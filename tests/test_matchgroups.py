"""The match-groups kernel (operators/matchgroups.py) and its callers:
backreference shift, hostile input read from parquet, and the plan
shape that keeps each pattern to one execution per row."""

from __future__ import annotations

import pytest

from axosyslog_spark.operators import parse, scl, snmptrapd
from axosyslog_spark.operators.filters import match_store_groups
from axosyslog_spark.operators.matchgroups import (
    _shift_backrefs,
    capturing_groups,
    framed_regex,
)


def _parquet(spark, tmp_path, rows, col="text"):
    path = str(tmp_path / "in.parquet")
    spark.createDataFrame(rows, f"id int, {col} string").write.parquet(path)
    return spark.read.parquet(path)


def test_backreferences_shift_past_the_whole_match_group():
    assert _shift_backrefs(r"(a)(b)\2\1", 2) == r"(a)(b)\3\2"
    # escapes and classes are left alone; a digit after the reference
    # stays a literal, as Java reads \10 with one group
    assert _shift_backrefs(r"(a)\\1[\1]\d", 1) == r"(a)\\1[\1]\d"
    assert _shift_backrefs(r"(a)\10", 1) == r"(a)\2(?:)0"
    assert _shift_backrefs(r"(?<x>a)\k<x>", 1) == r"(?<x>a)\k<x>"
    assert capturing_groups(r"(?<x>a)(?:b)(c)[(]\(") == ["x", None]
    regex, repl = framed_regex(r"^(a)\1")
    assert regex == r"\A(^(a)\2)[\s\S]*\z" and repl == "\x03\x04$1\x04$2"


def test_backreference_matches_after_the_shift(spark, tmp_path):
    df = _parquet(spark, tmp_path, [(0, "xaay"), (1, "xaby"), (2, "aa0")])
    out = {r.id: r for r in match_store_groups(df, r"(a)\1", n_groups=1).collect()}
    assert (out[0]["__matched"], out[0]["__m0"], out[0]["__m1"]) == (True, "aa", "a")
    assert out[1]["__matched"] is False
    # \10 with one group: backreference 1, then a literal 0
    out = {r.id: r for r in match_store_groups(df, r"(a)\10", n_groups=1).collect()}
    assert out[2]["__m0"] == "aa0" and out[0]["__matched"] is False
    out = parse.regexp_parser(df, [r"(?<k>[a-z])\1(?<rest>.*)"], src_col="text")
    assert {r.id: (r.k, r.rest) for r in out.collect()} == {0: ("a", "y"), 2: ("a", "0")}


def _ok(col):
    return lambda r: r[col]


# caller -> (apply to a frame of `text`, the row's ok flag, a matching
# line with \x01-\x04 inside a group value, what that line must give)
CALLERS = {
    "regexp_parser": (
        lambda df: parse.regexp_parser(df, [r"^(?<a>\d+) (?<b>[a-z]+)$"]),
        lambda r: True,
        "4\x012 ab\x04c",
        {"a": "42", "b": "abc"},
    ),
    "match_store_groups": (
        lambda df: match_store_groups(df, r"(\d+)=(\w+)", n_groups=2),
        _ok("__matched"),
        "k 4\x032=v\x04w",
        {"__m1": "42", "__m2": "vw"},
    ),
    "parse_rfc3164": (
        parse.parse_rfc3164,
        _ok("bsd_ok"),
        "<13>Jan  5 10:00:00 ho\x01st prog[1\x042]: hel\x02lo",
        {"host": "host", "appname": "prog", "procid": "12", "body": "hello", "pri": 13},
    ),
    "snmptrapd_parser": (
        snmptrapd.snmptrapd_parser,
        _ok("snmp_ok"),
        "2024-01-05 10:00:00 ho\x03st [UDP: [127.0.0.1]:1->[127.0.0.1]:162]:",
        {"program": "snmptrapd"},
    ),
    "apache_accesslog_parser": (
        scl.apache_accesslog_parser,
        _ok("apache_ok"),
        '1.2.3.4 - fr\x04ank [10/Oct/2000:13:55:36 -0700] "GET /a.gif HTTP/1.0" 200 2326',
        {"apache_auth": "frank", "apache_response": 200, "apache_bytes": 2326,
         "apache_verb": "GET"},
    ),
    "cisco_parser": (
        scl.cisco_parser,
        _ok("cisco_ok"),
        "%SYS-5-CON\x01FIG_I: Configured from\x04 console",
        {"cisco_facility": "SYS", "cisco_severity": 5, "cisco_mnemonic": "CONFIG_I",
         "cisco_message": "Configured from console"},
    ),
    "cisco_full_parser": (
        scl.cisco_full_parser,
        _ok("cisco_ok"),
        "<189>12: host1: Ja\x03n  5 10:00:00: %SYS-5-CON\x02FIG_I: x",
        {"cisco_host": "host1", "cisco_mnemonic": "CONFIG_I", "cisco_severity": 5},
    ),
    "pihole_ftl_parser": (
        scl.pihole_ftl_parser,
        _ok("pihole_ok"),
        "[2024-01-05 10:00:00.123 123M] WA\x01RN: hel\x04lo",
        {"message": "hello", "severity": 4, "pri": 12},
    ),
    "solaris_msgid_parser": (
        lambda df: scl.solaris_msgid_parser(df, src_col="text"),
        lambda r: r["solaris_msgid"] is not None or None,
        "[ID 800\x01047 auth.info] hel\x04lo",
        {"solaris_msgid": "800047", "text": "hello"},
    ),
    "arr_parser": (
        lambda df: scl.arr_parser(df, "Radarr"),
        _ok("arr_ok"),
        "2024-01-05 10:00:00.1|In\x02fo|Mo\x03d|msg",
        {"arr_module": "Mod", "message": "msg", "severity": 6},
    ),
    "jellyfin_parser": (
        scl.jellyfin_parser,
        _ok("jellyfin_ok"),
        "[2024-01-05 10:00:00.123 +02:00] [ERR] [12] Mess\x01age",
        {"message": "Message", "severity": 3},
    ),
    "qbittorrent_parser": (
        scl.qbittorrent_parser,
        _ok("qbittorrent_ok"),
        "(W) 2024-01-05T10:00:00 - hel\x02lo",
        {"message": "hello", "severity": 4},
    ),
    "mariadb_audit_parser": (
        lambda df: scl.mariadb_audit_parser(df, src_col="text"),
        _ok("mariadb_ok"),
        "col\x03umnstore-1 eff8\x04a68bcd7f,user1,172.18.0.1,32,394,QUERY,db,'SELECT 1',0",
        {".mariadb.syslog_info": "columnstore-1", ".mariadb.serverhost": "eff8a68bcd7f",
         ".mariadb.retcode": "0"},
    ),
}


@pytest.mark.parametrize("name", sorted(CALLERS))
def test_kernel_callers_take_hostile_input(spark, tmp_path, name):
    """NULL, empty, a 20,000-character row (alone and after a matching
    line) and a non-matching row finish with the caller's not-ok or
    NULL outputs; control bytes inside a group value are dropped and
    the other groups stay aligned."""
    apply, ok, line, want = CALLERS[name]
    rows = [
        (0, None), (1, ""), (2, "x" * 20000), (3, line + " " + "y" * 20000),
        (4, "no match here"), (5, line),
    ]
    out = {r.id: r for r in apply(_parquet(spark, tmp_path, rows)).collect()}
    for i in (0, 1, 2, 4):
        assert i not in out or not ok(out[i]), (i, out[i])
    got = out[5]
    assert ok(got) is True
    assert {k: got[k] for k in want} == want


def _executed_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


# caller -> (apply, {pattern: executions in the plan})
_LADDER = scl._CISCO_TS_LADDER
PLAN_CALLERS = {
    "regexp_parser": (
        lambda df: parse.regexp_parser(df, [r"^(?<a>\d+) (?<b>[a-z]+)$", r"(?<b>\w+)=(?<a>\w*)"]),
        {r"^(?<a>\d+) (?<b>[a-z]+)$": 1, r"(?<b>\w+)=(?<a>\w*)": 1},
    ),
    "match_store_groups": (
        lambda df: match_store_groups(df, r"(\d+)=(\w+)", n_groups=2),
        {r"(\d+)=(\w+)": 1},
    ),
    "parse_rfc3164": (
        parse.parse_rfc3164,
        {parse.RFC3164_RE: 1, parse.RFC3164_NO_TS_RE: 1},
    ),
    "snmptrapd_parser": (
        lambda df: snmptrapd.snmptrapd_parser(df).filter("snmp_ok"),
        {snmptrapd._V1_RE: 1, snmptrapd._V2_RE: 1},
    ),
    "apache_accesslog_parser": (scl.apache_accesslog_parser, {scl._APACHE_RE: 1}),
    "cisco_parser": (
        scl.cisco_parser,
        {_LADDER: 1, scl._CISCO_TRIPLET + r"\s*(.*)": 1},
    ),
    # the stamp ladder reads two inputs: the header, and where it
    # missed there, the text after a cpu module or a "HOST: " prefix
    "cisco_full_parser": (
        scl.cisco_full_parser,
        {_LADDER: 2, scl._CISCO_CPU: 1, r"^([^:]+): (.*)": 1, scl._CISCO_TRIPLET: 1},
    ),
    "pihole_ftl_parser": (scl.pihole_ftl_parser, {scl._PIHOLE_RE: 1}),
    "solaris_msgid_parser": (
        lambda df: scl.solaris_msgid_parser(df, src_col="text"),
        {scl._SOLARIS_MSGID_RE: 1},
    ),
    "arr_parser": (
        lambda df: scl.arr_parser(df, "Radarr").filter("arr_ok"), {scl._ARR_RE: 1}
    ),
    "jellyfin_parser": (scl.jellyfin_parser, {scl._JELLYFIN_RE: 1}),
    "qbittorrent_parser": (scl.qbittorrent_parser, {scl._QBIT_RE: 1}),
    "mariadb_audit_parser": (
        lambda df: scl.mariadb_audit_parser(df, src_col="text"),
        {scl._MARIADB_INFO_RE: 1},
    ),
}


@pytest.mark.parametrize("name", sorted(PLAN_CALLERS))
def test_kernel_callers_run_each_pattern_once(spark, tmp_path, name):
    """The executed plan holds each pattern once, inside its framed
    match: no per-group regexp_extract, no rlike probe, and no copy
    re-inlined into a projection or a filter above the stage."""
    apply, want = PLAN_CALLERS[name]
    df = apply(_parquet(spark, tmp_path, [(0, "a b"), (1, "k=v")]))
    df.collect()
    plan = _executed_plan(df)
    for pattern, n in want.items():
        assert plan.count(framed_regex(pattern)[0]) == n, (pattern, plan)
        assert plan.count(pattern) == n, (pattern, plan)


def test_composed_pipeline_keeps_the_stage(spark, tmp_path):
    """default_network_drivers -> parse_rfc3164: the app-parser and
    ewmm branches filter on columns read from the staged match, and
    those filters are not pushed below it with the regex re-inlined.
    Each union branch that parses BSD lines holds each pattern once,
    in its staging node."""
    df = _parquet(spark, tmp_path, [
        (0, "<13>Jan  5 10:00:00 host sudo[1]: u : TTY=pts/0 ; PWD=/ ; USER=root ; COMMAND=/bin/x"),
        (1, "<13>1 2024-01-05T10:00:00Z host app - - - hello"),
    ])
    out = scl.default_network_drivers(df)
    assert {r.id: r.path for r in out.collect()} == {0: "app", 1: "syslog"}
    plan = _executed_plan(out)
    for pattern in (parse.RFC3164_RE, parse.RFC3164_NO_TS_RE):
        lines = [ln for ln in plan.splitlines() if pattern in ln]
        assert lines, pattern
        for ln in lines:
            assert "Generate" in ln and ln.count(pattern) == 1, ln
