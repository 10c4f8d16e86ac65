"""csv-parser() and date-parser() unit tests (modules/csvparser/tests,
modules/timestamp/date-parser.c semantics)."""

from __future__ import annotations

import datetime as dt

import pytest

from axosyslog_spark.operators.csvparse import CsvColumn, CsvSpec, csv_parse
from axosyslog_spark.operators.dateparse import date_parser, strftime_to_spark


def _df(spark, lines):
    return spark.createDataFrame([(t,) for t in lines], "text string")


def test_csv_quoted_dialect(spark):
    spec = CsvSpec(
        columns=(CsvColumn("host"), CsvColumn("port", "int"), CsvColumn("msg")),
    )
    out = csv_parse(_df(spark, ['web1,8080,"hello, world"']), spec).collect()[0]
    assert out.host == "web1" and out.port == 8080
    assert out.msg == "hello, world"       # quoted delimiter preserved
    assert out.csv_ok is True


def test_csv_drop_invalid(spark):
    spec = CsvSpec(columns=(CsvColumn("a"), CsvColumn("b"), CsvColumn("c")))
    lines = ["1,2,3", "1,2", "1,2,3,4", "1,,3", "1,2,3,"]
    rows = csv_parse(_df(spark, lines), spec).collect()
    # an empty field is a field: it neither fails nor pads the count
    assert [r.csv_ok for r in rows] == [True, False, False, True, False]
    assert rows[3].b == ""


def test_csv_greedy_rest(spark):
    spec = CsvSpec(
        columns=(CsvColumn("lvl"), CsvColumn("rest")), delimiter=" ",
        quote=None, greedy=True,
    )
    out = csv_parse(_df(spark, ["err disk full on /dev/sda"]), spec).collect()[0]
    assert out.lvl == "err" and out.rest == "disk full on /dev/sda"


def test_csv_strip_and_null(spark):
    spec = CsvSpec(
        columns=(CsvColumn("a"), CsvColumn("b")), quote=None,
        strip=True, null_value="-",
    )
    out = csv_parse(_df(spark, [" x , - "]), spec).collect()[0]
    assert out.a == "x" and out.b is None


def test_date_parser_multi_format(spark):
    df = _df(
        spark,
        [
            "2024-01-02T03:04:05",
            "2024/01/02 03:04:05",
            "02/Jan/2024:03:04:05",
            "not a date",
        ],
    )
    rows = date_parser(df, "text").collect()
    expect = dt.datetime(2024, 1, 2, 3, 4, 5)
    assert rows[0].parsed_ts == expect
    assert rows[1].parsed_ts == expect
    assert rows[2].parsed_ts == expect
    assert rows[3].parsed_ts is None


def test_date_parser_timezone(spark):
    df = _df(spark, ["2024-06-01T12:00:00"])
    out = date_parser(df, "text", timezone="Europe/Budapest").collect()[0]
    assert out.parsed_ts == dt.datetime(2024, 6, 1, 10, 0, 0)  # CEST = +2


def test_strftime_to_spark():
    assert strftime_to_spark("%Y-%m-%dT%H:%M:%S") == "yyyy-MM-dd'T'HH:mm:ss"
    assert strftime_to_spark("%b %d %H:%M") == "MMM dd HH:mm"
    assert strftime_to_spark("at %H o'clock") == "'at 'HH' o''clock'"


def test_strftime_to_spark_directive_union_and_raise():
    # %f (FilterX strptime) and %F/%T ($(format-date)) in one map
    assert strftime_to_spark("%F %T.%f") == "yyyy-MM-dd HH:mm:ss.SSSSSS"
    assert strftime_to_spark("100%% %e") == "100% d"
    # a lone quote is quoted and doubled, never left to open a quote
    assert strftime_to_spark("%H'%M") == "HH''''mm"
    # Spark's optional-section brackets stay literal
    assert strftime_to_spark("[%H]") == "'['HH']'"
    with pytest.raises(ValueError, match="%Q"):
        strftime_to_spark("%Y %Q")


def test_csv_parser_reference_goldens(spark):
    """The csv-parser functional table (tests/light
    functional_tests/parsers/csv-parser/test_csv_parser.py): quote
    sets, quote-pairs, every escape dialect, null-value, character and
    string delimiters, and both drop-invalid rows."""
    unset = ">>unset<<"

    def run(text, **kw):
        cols = kw.pop("columns", (CsvColumn("foo"), CsvColumn("bar")))
        spec = CsvSpec(columns=cols, prefix="prefix.", **kw)
        df = _df(spark, [text])
        r = csv_parse(df, spec).collect()[0]
        d = r.asDict()
        return (
            d.get("prefix.foo") if d.get("prefix.foo") is not None else unset,
            d.get("prefix.bar") if d.get("prefix.bar") is not None else unset,
            d["csv_ok"],
        )

    assert run("foo,bar") == ("foo", "bar", True)
    assert run('foo,"bar"') == ("foo", "bar", True)
    # quotes("~^"): symmetric quote SET
    assert run("~foo~,^bar^", quote=None, quotes="~^") == ("foo", "bar", True)
    # quote-pairs("><~~"): open '>' closes '<', open '~' closes '~'
    assert run("~foo~,>bar<", quote=None, quote_pairs="><~~") == (
        "foo", "bar", True,
    )
    # every quote pair may hold delimiters
    assert run("~f,o~,>b,r<", quote=None, quote_pairs="><~~") == (
        "f,o", "b,r", True,
    )
    assert run('"f,""o""",bar', dialect="escape-double-char") == (
        'f,"o"', "bar", True,
    )
    assert run("f|'b|r'", delimiter="|", quote="'") == ("f", "b|r", True)
    assert run("foo,bar", quote=None, dialect="escape-none") == (
        "foo", "bar", True,
    )
    # escape-double-char: doubled quotes collapse
    assert run('foo,"b""a""r"', quote=None, quotes='"',
               dialect="escape-double-char") == ("foo", 'b"a"r', True)
    # escape-backslash: \" unquotes, unknown \a drops its backslash
    assert run(r'foo,"b\"a\"r\a"', quote=None, quotes='"',
               dialect="escape-backslash") == ("foo", 'b"a"ra', True)
    # escape-backslash-with-sequences: \a is BEL
    assert run(r'foo,"b\"a\"r\a"', quote=None, quotes='"',
               dialect="escape-backslash-with-sequences") == (
        "foo", 'b"a"r\a', True,
    )
    assert run("foo,NULL", null_value="NULL") == ("foo", unset, True)
    assert run("foo^bar", delimiter="^") == ("foo", "bar", True)
    # delimiters(strings(...)): multi-char alternatives
    assert run("foo^^^bar", quote=None,
               delimiter_strings=("^^^", "~~~")) == ("foo", "bar", True)
    assert run("foo~~~bar", quote=None,
               delimiter_strings=("^^^", "~~~")) == ("foo", "bar", True)
    # drop-invalid: too many columns discards
    assert run("foo,bar,baz", quote=None)[2] is False
    # drop-invalid: type-hint mismatch discards
    assert run("foo,bar", quote=None,
               columns=(CsvColumn("foo", "int"), CsvColumn("bar")))[2] is False


def test_csv_scanner_c_suite_escapes(spark):
    """Ported from lib/scanner/csv-scanner/tests/test_csv_scanner.c:
    the backslash-with-sequences named + \\xNN hex escapes (invalid
    hex drops its backslash), and the escape-unquoted-delimiter
    dialect ('\\|' protects the delimiter, '\\z' stays verbatim)."""

    def run(text, **kw):
        cols = kw.pop("columns", (CsvColumn("foo"), CsvColumn("bar")))
        spec = CsvSpec(columns=cols, **kw)
        r = csv_parse(_df(spark, [text]), spec).collect()[0].asDict()
        return [r.get(c.name) for c in cols]

    # escape_backslash_sequences: "\"\a\t\v\r\n\""
    assert run(
        'foo,"\\"\\a\\t\\v\\r\\n\\""', quote=None, quotes='"',
        dialect="escape-backslash-with-sequences",
    ) == ["foo", '"\a\t\v\r\n"']
    # escape_backslash_x_sequences: "A\x00@"
    assert run(
        'foo,"\\x41\\x00\\x40"', quote=None, quotes='"',
        dialect="escape-backslash-with-sequences",
    ) == ["foo", "A\x00@"]
    # escape_backslash_invalid_x_sequence: backslash drops, 'x4Q' stays
    assert run(
        'foo,"\\x4Q"', quote=None, quotes='"',
        dialect="escape-backslash-with-sequences",
    ) == ["foo", "x4Q"]
    # escaped_unquoted_delimiter: 3 columns over '|'
    assert run(
        "first|foo\\|bar\\|ba\\z|last", quote=None, delimiter="|",
        dialect="escape-unquoted-delimiter",
        columns=(CsvColumn("a"), CsvColumn("b"), CsvColumn("c")),
    ) == ["first", "foo|bar|ba\\z", "last"]
    # escaped_unquoted_default_comma_delimiter
    assert run(
        "foo\\,bar,last", quote=None, dialect="escape-unquoted-delimiter",
    ) == ["foo,bar", "last"]


def test_date_parser_c_suite_cases(spark):
    """Ported from modules/timestamp/tests/test_date.c (the
    engine-expressible subset): Apache CLF with numeric offset, the
    explicit-timezone option, %s unixtime, the multi-format
    fractional ladder (comma- and dot-millis, ISO offset), and the
    anchored-parse failure on trailing text."""
    import datetime as _dt

    from axosyslog_spark.operators.dateparse import (
        UNIX_FMT,
        date_parser,
        parse_date,
    )
    from pyspark.sql import functions as F

    def one(text, **kw):
        df = spark.createDataFrame([(text,)], "t string")
        return df.select(parse_date(F.col("t"), **kw).alias("ts")).first()["ts"]

    # Apache-like with offset: 14:40:07+05:00 == 09:40:07 UTC
    got = one("21/Jan/2015:14:40:07 +0500")
    assert got == _dt.datetime(2015, 1, 21, 9, 40, 7)
    # explicit timezone option re-interprets a zoneless stamp
    got = one(
        "2015-01-27 11:48:46",
        timezone="America/Phoenix",  # no DST: UTC-7 year-round
    )
    assert got == _dt.datetime(2015, 1, 27, 18, 48, 46)
    got = one("2015-01-27 11:48:46", timezone="+05:00")
    assert got == _dt.datetime(2015, 1, 27, 6, 48, 46)
    # %s unixtime
    got = one("1446128356", formats=(UNIX_FMT,))
    assert got == _dt.datetime(2015, 10, 29, 14, 19, 16)
    # multi-format ladder with fractional seconds
    assert one("2017-02-02 00:29:16").microsecond == 0
    assert one("2017-02-02 00:29:16,706").microsecond == 706000
    got = one("2019-05-04T21:55:46.989+02:00")
    assert got.microsecond == 989000
    assert got == _dt.datetime(2019, 5, 4, 19, 55, 46, 989000)
    # anchored: trailing text is a parse failure, like the reference
    assert one("2015-01-26T16:14:49+0300 Disappointing log file") is None
