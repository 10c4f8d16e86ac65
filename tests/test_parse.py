"""Parse-stage unit tests — golden extraction cases.

Modeled on the reference's parser unit tests
(modules/syslogformat/tests/, modules/kvformat/tests/,
modules/json/tests/): exact (name, value, type) extraction per line.
"""

from __future__ import annotations

import datetime as dt

from axosyslog_spark.functions.filterx_lang import filterx
from axosyslog_spark.operators.parse import parse_stage
from axosyslog_spark.operators.patterndb import PatternDB, PdbRule


def _mk(spark, lines):
    rows = [
        ("conv-1", i, "user", text, "", dt.datetime(2024, 1, 1, 0, 0, i))
        for i, text in enumerate(lines)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


def test_syslog_header_extraction(spark):
    line = "<13>1 2024-01-01T00:00:07 host-3 proc_click 42 - - status=ok latency_ms=117 path=/v1/run"
    row = parse_stage(_mk(spark, [line])).collect()[0]
    assert row.kind == "syslog"
    assert row.parse_ok is True
    assert row.pri == 13
    assert row.severity == 5 and row.facility == 1
    assert row.host == "host-3"
    assert row.appname == "proc_click"
    assert row.procid == "42"
    assert row.msg_ts == dt.datetime(2024, 1, 1, 0, 0, 7)
    assert row.body == "status=ok latency_ms=117 path=/v1/run"
    assert row.status == "ok"
    assert row.latency_ms == 117
    assert row.path == "/v1/run"
    assert row.tags == ["syslog"]


def test_severity_facility_decode(spark):
    # pri=165 => facility 20 (local4), severity 5 (notice)
    line = "<165>1 2024-01-01T00:00:07 h a 1 - - m"
    row = parse_stage(_mk(spark, [line])).collect()[0]
    assert row.pri == 165 and row.facility == 20 and row.severity == 5


def test_invalid_pri_falls_back_to_default(spark):
    # >191 is not a valid syslog PRI -> default 13 (user.notice)
    line = "<999>1 2024-01-01T00:00:07 h a 1 - - m"
    row = parse_stage(_mk(spark, [line])).collect()[0]
    assert row.pri == 13 and row.severity == 5 and row.facility == 1


def test_kv_shape(spark):
    row = parse_stage(_mk(spark, ["status=error latency_ms=9 path=/v1/x retry=2"])).collect()[0]
    assert row.kind == "kv" and row.parse_ok
    assert row.status == "error" and row.latency_ms == 9
    assert row.retry == 2 and row.path == "/v1/x"
    assert row.severity == 5  # default pri applies to headerless shapes


def test_json_shape(spark):
    row = parse_stage(_mk(spark, ['{"event": "click", "k": 7, "latency_ms": 31}'])).collect()[0]
    assert row.kind == "json" and row.parse_ok
    assert row.json_k == 7 and row.json_event == "click"
    assert row.latency_ms == 31


def test_malformed_is_unparsed(spark):
    # garbage prefix must NOT classify as kv even though it contains k=v
    row = parse_stage(_mk(spark, ["BADHDR 2024-01-01T00:00:07 host-1 status=error latency_ms=3"])).collect()[0]
    assert row.kind == "free"
    assert row.parse_ok is False
    assert row.tags == ["unparsed"]
    # kv scavenging still applies to the raw body (kv-parser is its own
    # stage in the reference, independent of header parse success)
    assert row.status == "error" and row.latency_ms == 3


def test_free_text(spark):
    row = parse_stage(_mk(spark, ["turn about click with no structure"])).collect()[0]
    assert row.kind == "free" and row.parse_ok is False
    assert row.latency_ms is None and row.status is None


def test_sdata_parser_unquoted_values_roundtrip(spark):
    """Golden from the reference functional suite (tests/light
    sdata-parser): UNQUOTED param values parse, and the $SDATA macro
    re-renders the block with quotes."""
    from pyspark.sql import functions as F

    from axosyslog_spark.operators.parse import format_sdata, parse_sdata

    line = (
        "[Originator@6876 sub=Vimsvc.ha-eventmgr opID=esxui-13c6-6b16 "
        "sid=5214bde6 user=root]"
    )
    df = spark.createDataFrame([(0, line), (1, "no sdata here")],
                               "id int, msg string")
    out = parse_sdata(df, "msg")
    rows = {r["id"]: r for r in out.select(
        "id", "sdata", format_sdata(F.col("sdata")).alias("rendered")
    ).collect()}
    assert rows[0]["sdata"][".SDATA.Originator@6876.sub"] == "Vimsvc.ha-eventmgr"
    assert rows[0]["sdata"][".SDATA.Originator@6876.user"] == "root"
    assert rows[0]["rendered"] == (
        '[Originator@6876 sub="Vimsvc.ha-eventmgr" opID="esxui-13c6-6b16" '
        'sid="5214bde6" user="root"]'
    )
    assert rows[1]["sdata"] == {}


def test_regexp_parser_reference_goldens(spark):
    """The regexp-parser functional table (tests/light
    functional_tests/parsers/regexp-parser/test_regexp_parser.py):
    literal/regex match, prefix storage, dupnames alternation,
    ignore-case, multiple patterns first-match, unmatch drop, compile
    error, and the no-named-groups passthrough."""
    import pytest as _pytest

    from axosyslog_spark.operators.parse import regexp_parser

    def run(text, patterns, prefix="", flags=()):
        df = spark.createDataFrame([(text,)], "text string")
        rows = regexp_parser(
            df, patterns, src_col="text", prefix=prefix, flags=flags
        ).collect()
        return rows[0].asDict() if rows else None

    assert run("foo", ["(?<key>foo)"])["key"] == "foo"
    assert run("foo", ["(?<key>fo*)"])["key"] == "foo"
    r = run("foo", ["(?<key>foo)"], prefix=".reg.")
    assert r[".reg.key"] == "foo" and "key" not in r
    # dupnames alternation: leftmost participating instance wins
    assert run(
        "foo", ["(?<key>foo)|(?<key>bar)"], prefix=".reg.",
        flags=("dupnames",),
    )[".reg.key"] == "foo"
    assert run(
        "bar", ["(?<key>foo)|(?<key>bar)"], flags=("dupnames",)
    )["key"] == "bar"
    with _pytest.raises(ValueError):
        run("foo", ["(?<key>foo)|(?<key>bar)"])  # dup name needs flag
    # case sensitivity: unmatch drops the row; ignore-case matches
    assert run("abc", ["(?<key>Abc)"]) is None
    assert run("abc", ["(?<key>Abc)"], flags=("ignore-case",))["key"] == "abc"
    # multiple patterns: FIRST matching pattern applies
    assert run("foobar", ["(?<key>foo)", "(?<key>bar)"], prefix=".reg.")[
        ".reg.key"
    ] == "foo"
    # compile error is a config-time (plan-time) error
    with _pytest.raises(Exception):
        run("foo", ["(?<key>foo"])
    # a pattern with no named groups just gates the message through
    assert run("foo", ["fo*"])["text"] == "foo"


def test_rfc3164_lenient_branches_c_suite(spark):
    """Ported from modules/syslogformat/tests/test_syslog_format.c:
    the BSD handler never rejects — invalid pri keeps the whole input
    as MSG (+invalid_pri tag), a missing timestamp still parses
    PROGRAM[PID]: MSG (+missing_timestamp tags), and LP_CHECK_PROGRAM
    pushes an invalid program back into the MSG."""
    from axosyslog_spark.operators.parse import parse_rfc3164

    rows = [
        (0, "<189 Feb  3 12:34:56 host program[pid]: message"),
        (1, "<189> program[pid]: message"),
        (2, "<189> Feb  3 12:34:56 host program_0123456789-abcdefghijklmnopqrstuvwxyz(ABCDEFGHIJKLMNOPQRSTUVWXYZ).valid/chars[pid]: message"),
        (3, "<189> Feb  3 12:34:56 host 323235243.2354[pid]: message"),
        (4, "<189> Feb  3 12:34:56 host program![pid]: message"),
        (5, "<189> Feb  3 12:34:56 host 127.0.0.1[pid]: message"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = {r["id"]: r.asDict()
           for r in parse_rfc3164(df, check_program=True).collect()}

    r = out[0]  # invalid pri: whole input is the MSG
    assert r["body"] == rows[0][1]
    assert r["bsd_tags"] == ["syslog.invalid_pri"]
    r = out[1]  # missing timestamp: program parses, host unset
    assert r["appname"] == "program" and r["procid"] == "pid"
    assert r["body"] == "message" and r["host"] is None
    assert r["pri"] == 189
    assert set(r["bsd_tags"]) == {
        "syslog.missing_timestamp", "syslog.rfc3164_missing_header",
    }
    r = out[2]  # every allowed special, has alpha -> valid
    assert r["appname"].startswith("program_0123456789-")
    assert r["procid"] == "pid" and r["body"] == "message"
    assert r["bsd_tags"] == []
    for i, msg in ((3, "323235243.2354[pid]: message"),
                   (4, "program![pid]: message"),
                   (5, "127.0.0.1[pid]: message")):
        r = out[i]
        assert r["appname"] is None and r["procid"] is None, i
        assert r["body"] == msg, (i, r["body"])
        assert r["bsd_tags"] == ["syslog.rfc3164_invalid_program"], i
        assert r["host"] == "host", i



def test_malformed_values_are_null_not_a_job_abort(spark):
    # under Spark 4's ANSI casts each bad value below aborted the whole
    # job (CAST_INVALID_INPUT); now it is NULL and the other rows are
    # unchanged
    lines = [
        "<13>1 2024-01-01T00:00:07 h a 1 - - status=ok latency_ms=117 retry=2",
        "<13>1 2024-01-01T00:00:08 h a 1 - - status=ok latency_ms=99999999999999999999",
        '{"k": "abc"}',
        '{"latency_ms": "12x"}',
        '{"k": 5, "latency_ms": 7}',
    ]
    rows = parse_stage(_mk(spark, lines)).orderBy("turn_idx").collect()
    assert (rows[0].status, rows[0].latency_ms, rows[0].retry) == ("ok", 117, 2)
    assert (rows[1].status, rows[1].latency_ms) == ("ok", None)
    assert rows[1].msg_ts == dt.datetime(2024, 1, 1, 0, 0, 8)
    assert rows[2].kind == "json" and rows[2].json_k is None
    assert rows[3].kind == "json" and rows[3].latency_ms is None
    assert (rows[4].json_k, rows[4].latency_ms) == (5, 7)

    pdb = PatternDB([PdbRule("num", "v=@NUMBER:v@")])
    df = spark.createDataFrame(
        [(0, "v=12"), (1, "v=99999999999999999999")], "id int, text string"
    )
    got = {r.id: (r.rule_id, r.v) for r in pdb.apply(df).collect()}
    assert got == {0: ("num", 12), 1: ("num", None)}

    df = spark.createDataFrame(
        [(0, "2024-03-05 12:34:56"), (1, "not a date")], "id int, ts string"
    )
    fx = {
        r.id: r
        for r in filterx(df, "$d = datetime($ts); $iso = format_isodate($ts);").collect()
    }
    assert fx[0].d == dt.datetime(2024, 3, 5, 12, 34, 56)
    assert fx[0].iso.startswith("2024-03-05T12:34:56")
    assert fx[1].d is None and fx[1].iso is None
