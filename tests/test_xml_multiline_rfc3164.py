"""XML parser, multi-line assembly, RFC3164 parse, RFC5424 roundtrip."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from axosyslog_spark.operators import multiline
from axosyslog_spark.operators.parse import (
    format_rfc5424,
    parse_header,
    parse_rfc3164,
    tags_parser,
)
from axosyslog_spark.operators.xmlparse import xml_parser


def test_xml_parser(spark):
    xml = '<event id="7"><src ip="1.2.3.4">fw1</src><msg>denied</msg></event>'
    df = spark.createDataFrame([(xml,), ("not xml",)], "text string")
    rows = {r.text: r.xml for r in xml_parser(df).collect()}
    got = rows[xml]
    assert got["xml.event._id"] == "7"
    assert got["xml.event.src._ip"] == "1.2.3.4"
    assert got["xml.event.src"] == "fw1"
    assert got["xml.event.msg"] == "denied"
    assert rows["not xml"] == {}


_WINLOG_COMMON = (
    "<Event xmlns='http://schemas.microsoft.com/win/2004/08/events/event'>"
    "<System><Provider Name='EventCreate'/>"
    "<EventID Qualifiers='0'>999</EventID><Version>0</Version><Level>2</Level>"
    "<TimeCreated SystemTime='2024-01-12T09:30:12.1566754Z'/>"
    "<EventRecordID>934</EventRecordID>"
    "<Channel>Application</Channel><Computer>DESKTOP-2MBFIV7</Computer>"
    "<Security UserID='S-1-5-21-3714454296-2738353472-899133108-1001'/></System>"
    "<RenderingInfo Culture='en-US'><Message>foobar</Message></RenderingInfo>"
    "{eventdata}</Event>"
)


def test_windows_eventlog_xml_parser(spark):
    """Cases from modules/xml/tests/test_windows_eventlog_xml_parser.c:
    unnamed Data -> list under ...EventData.Data; named Data -> per-name
    keys with the Data/_Name keys absent; namespaces stripped."""
    from axosyslog_spark.operators.xmlparse import windows_eventlog_xml_parser

    plain = _WINLOG_COMMON.format(
        eventdata="<EventData><Data>foo</Data><Data>bar</Data></EventData>"
    )
    named = _WINLOG_COMMON.format(
        eventdata="<EventData><Data Name='param1'>foo</Data>"
        "<Data Name='param2'>bar</Data></EventData>"
    )
    df = spark.createDataFrame([(plain,), (named,)], "text string")
    rows = {r.text: r.winlog for r in windows_eventlog_xml_parser(df).collect()}

    got = rows[plain]
    assert got["winlog.Event.EventData.Data"] == "foo,bar"
    assert got["winlog.Event.System.EventID"] == "999"
    assert got["winlog.Event.System.EventID._Qualifiers"] == "0"
    assert got["winlog.Event.System.TimeCreated._SystemTime"] == (
        "2024-01-12T09:30:12.1566754Z"
    )

    got = rows[named]
    assert got["winlog.Event.EventData.Data.param1"] == "foo"
    assert got["winlog.Event.EventData.Data.param2"] == "bar"
    assert "winlog.Event.EventData.Data" not in got
    assert "winlog.Event.EventData.Data._Name" not in got
    assert got["winlog.Event.System.EventID"] == "999"


def test_one_xml_walker_for_both_parsers(spark, tmp_path):
    """xml-parser and windows-eventlog-xml-parser run one walker: a
    namespaced Event keys by plain element names in both, and under
    the same strip-whitespaces() (yes for windows-eventlog) repeated
    siblings form the same str-repr list and mixed content keeps its
    tails."""
    from axosyslog_spark.operators.xmlparse import (
        _flatten_xml,
        windows_eventlog_xml_parser,
    )

    event = _WINLOG_COMMON.format(
        eventdata="<EventData><A> x </A><A>y,z</A><M>t<c/>u</M></EventData>"
    )
    path = str(tmp_path / "event.parquet")
    spark.createDataFrame([(event,)], "text string").write.parquet(path)
    df = spark.read.parquet(path)
    [x] = xml_parser(df).collect()
    assert x.xml["xml.Event.System.EventID"] == "999"
    assert x.xml["xml.Event.EventData.A"] == '" x ","y,z"'
    assert x.xml["xml.Event.EventData.M"] == "tu"
    [w] = windows_eventlog_xml_parser(df).collect()
    assert w.winlog["winlog.Event.EventData.A"] == 'x,"y,z"'
    assert w.winlog["winlog.Event.EventData.M"] == "tu"
    assert w.winlog == _flatten_xml(event, prefix="winlog", strip_whitespaces=True)


def test_xml_walkers_survive_deep_nesting(spark, tmp_path):
    """XML nested 1,000 deep (past Python's default recursion limit)
    flattens in both walkers instead of failing the job; read from
    parquet so the UDF runs in the executor."""
    from axosyslog_spark.operators.xmlparse import windows_eventlog_xml_parser

    deep = "<a>" * 1000 + "x" + "</a>" * 1000
    path = str(tmp_path / "deep.parquet")
    spark.createDataFrame([(deep,), ("<a>y</a>",)], "text string").write.parquet(path)
    df = spark.read.parquet(path)
    key = ".".join(["a"] * 1000)
    rows = {r.text: r.xml for r in xml_parser(df).collect()}
    assert rows[deep] == {f"xml.{key}": "x"}
    assert rows["<a>y</a>"] == {"xml.a": "y"}
    rows = {r.text: r.winlog for r in windows_eventlog_xml_parser(df).collect()}
    assert rows[deep] == {f"winlog.{key}": "x"}


def test_indented_multiline(spark):
    rows = [
        ("c1", 0, "Traceback (most recent call last):"),
        ("c1", 1, "  File \"x.py\", line 1"),
        ("c1", 2, "  ValueError: boom"),
        ("c1", 3, "next message"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = sorted(
        multiline.indented(df).collect(), key=lambda r: r.turn_idx
    )
    assert len(out) == 2
    assert out[0].n_lines == 3 and out[0].assembled.endswith("ValueError: boom")
    assert out[1].assembled == "next message"


def test_regexp_prefix_multiline(spark):
    rows = [
        ("c1", 0, "2024-01-01 start of A"),
        ("c1", 1, "continuation of A"),
        ("c1", 2, "2024-01-02 start of B"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = sorted(
        multiline.regexp_prefix(df, r"^[0-9]{4}-").collect(),
        key=lambda r: r.turn_idx,
    )
    assert [r.n_lines for r in out] == [2, 1]


def test_rfc3164_parse(spark):
    line = "<34>Oct 11 22:14:15 mymachine su[230]: 'su root' failed"
    df = spark.createDataFrame([(line,)], "text string")
    r = parse_rfc3164(df, year=2003).collect()[0]
    assert r.bsd_ok is True
    assert r.pri == 34 and r.facility == 4 and r.severity == 2
    assert r.host == "mymachine" and r.appname == "su" and r.procid == "230"
    assert r.msg_ts == dt.datetime(2003, 10, 11, 22, 14, 15)
    assert r.body == "'su root' failed"


def test_rfc3164_no_pid(spark):
    line = "<13>Jan  5 01:02:03 h app: hello"
    r = parse_rfc3164(spark.createDataFrame([(line,)], "text string")).collect()[0]
    assert r.bsd_ok is True and r.procid is None and r.body == "hello"


def test_rfc5424_roundtrip(spark):
    line = "<165>1 2024-03-05T07:09:11 host-1 proc_x 42 - - status=ok latency_ms=5 path=/v1/y"
    df = spark.createDataFrame(
        [("c", 0, line)], "conv_id string, turn_idx int, text string"
    )
    p = parse_header(df)
    rendered = p.select(
        format_rfc5424(
            F.col("pri"), F.col("msg_ts"), F.col("host"), F.col("appname"),
            F.col("procid"), F.col("body"),
        ).alias("out")
    ).collect()[0].out
    assert rendered == line  # bit-exact roundtrip


def test_tags_parser(spark):
    df = spark.createDataFrame([("a,b,c",)], "raw string")
    assert tags_parser(df, "raw").collect()[0].tags == ["a", "b", "c"]


def test_rfc3164_year_inference_boundaries(spark):
    """determine_year_for_month (wallclocktime.c:919-967): Dec stamp
    received in Jan -> last year; Jan stamp in Dec -> next year."""
    from axosyslog_spark.operators.parse import parse_rfc3164

    rows = [
        ("<13>Dec 31 23:59:58 h1 app: tail of last year", "2025-01-01 00:00:05"),
        ("<13>Jan  1 00:00:02 h1 app: clock skew ahead", "2024-12-31 23:59:59"),
        ("<13>Jun 15 12:00:00 h1 app: midyear", "2024-06-15 12:00:30"),
    ]
    df = spark.createDataFrame(rows, "text string, recvd string").select(
        "text", F.to_timestamp("recvd").alias("ts")
    )
    out = parse_rfc3164(df, year=None).select("msg_ts").collect()
    got = [str(r.msg_ts) for r in out]
    assert got == [
        "2024-12-31 23:59:58",
        "2025-01-01 00:00:02",
        "2024-06-15 12:00:00",
    ]


def test_xml_parser_c_suite_table(spark):
    """test_xml_parser.c valid_inputs + list_quoting_array_elements:
    mixed-content tails concatenate, attributes nest with '_', and
    repeated siblings become a str-repr-quoted comma list under
    create-lists(yes) (default) or concatenate under
    create-lists(no)."""
    from axosyslog_spark.operators.xmlparse import _flatten_xml

    valid = [
        ("<tag1>value1</tag1>", ".xml.tag1", "value1"),
        ("<tag1 attr='attr_value'>value1</tag1>", ".xml.tag1._attr", "attr_value"),
        ("<tag1><tag2>value2</tag2></tag1>", ".xml.tag1.tag2", "value2"),
        ("<tag1>part1<tag2>value2</tag2>part2</tag1>", ".xml.tag1", "part1part2"),
        ("<tag1><tag11></tag11><tag12><tag121>value</tag121></tag12></tag1>",
         ".xml.tag1.tag12.tag121", "value"),
        ("<tag1><tag11></tag11><tag12><tag121 attr1='1' attr2='2'>value</tag121></tag12></tag1>",
         ".xml.tag1.tag12.tag121._attr1", "1"),
        ("<tag1><tag1>t11.1</tag1><tag1>t11.2</tag1></tag1>",
         ".xml.tag1.tag1", "t11.1,t11.2"),
    ]
    for xml, key, exp in valid:
        assert _flatten_xml(xml, prefix=".xml").get(key) == exp, (xml, key)

    lists = [
        ("<tag1><simple_namevalue> value,2 </simple_namevalue></tag1>", False,
         ".xml.tag1.simple_namevalue", " value,2 "),
        ("<tag1><simple_namevalue> value,2 </simple_namevalue></tag1>", True,
         ".xml.tag1.simple_namevalue", '" value,2 "'),
        ("<events><data>1</data><data> 2 </data></events>", True,
         ".xml.events.data", '1," 2 "'),
        ("<events><data>1</data><data> 2 </data><data>3,</data><data>4</data></events>",
         True, ".xml.events.data", '1," 2 ","3,",4'),
        ("<noquotes><data>one</data><data>two</data><data>three</data></noquotes>",
         True, ".xml.noquotes.data", "one,two,three"),
        ("<array><data>,first element</data><data>second element</data><data>Third element</data></array>",
         True, ".xml.array.data",
         '",first element","second element","Third element"'),
        ("<array><data>\"Quoted elements escaped with single-quote\"</data><data>unquoted with double-quotes</data></array>",
         True, ".xml.array.data",
         "'\"Quoted elements escaped with single-quote\"',\"unquoted with double-quotes\""),
        ("<array><data>'Single quoted becomes quoted'</data><data>simple</data></array>",
         True, ".xml.array.data", "\"'Single quoted becomes quoted'\",simple"),
        ("<events><data>first</data><data>second</data></events>", False,
         ".xml.events.data", "firstsecond"),
        ("<events><data>first</data><data>second, long entry</data></events>",
         False, ".xml.events.data", "firstsecond, long entry"),
    ]
    for xml, cl, key, exp in lists:
        got = _flatten_xml(xml, prefix=".xml", create_lists=cl).get(key)
        assert got == exp, (xml, cl, got, exp)

    # strip-whitespaces(yes): segments strip before concatenation
    got = _flatten_xml(
        "<tag1>part1 <tag2>value2</tag2> part2</tag1>",
        prefix=".xml", strip_whitespaces=True,
    )
    assert got[".xml.tag1"] == "part1part2"
