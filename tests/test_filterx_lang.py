"""FilterX language front-end tests (lib/filterx grammar subset)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from axosyslog_spark.functions.filterx_lang import (
    FilterXSyntaxError,
    compile_filterx,
    filterx,
)


@pytest.fixture()
def frame(spark):
    rows = [
        (0, "ok", 120, "h1"),
        (1, "error", 2500, "h2"),
        (2, "ok", 1800, "h1"),
        (3, None, 50, "h3"),
    ]
    return spark.createDataFrame(
        rows, "id int, status string, latency_ms int, host string"
    )


def _rows(df):
    return {r["id"]: r.asDict() for r in df.collect()}


def test_assign_and_declare(frame):
    out = filterx(
        frame,
        """
        declare threshold = 1000;
        $slow = $latency_ms > threshold;
        $lat_s = double($latency_ms) / 1000.0;
        """,
    )
    got = _rows(out)
    assert got[0]["slow"] is False and got[1]["slow"] is True
    assert got[1]["lat_s"] == 2.5


def test_if_elif_else_with_drop(frame):
    out = filterx(
        frame,
        """
        if ($status == "error") {
          drop;
        } elif ($latency_ms > 1000) {
          $bucket = "slow";
        } else {
          $bucket = "fast";
        };
        """,
    )
    got = _rows(out)
    assert set(got) == {0, 2, 3}
    assert got[0]["bucket"] == "fast" and got[2]["bucket"] == "slow"


def test_bare_expression_is_a_filter(frame):
    out = filterx(frame, '$status == "ok";')
    assert set(_rows(out)) == {0, 2}


def test_null_coalesce_and_ternary(frame):
    out = filterx(
        frame,
        """
        $st = $status ?? "unset";
        $cls = $latency_ms > 1000 ? "hi" : "lo";
        """,
    )
    got = _rows(out)
    assert got[3]["st"] == "unset" and got[0]["st"] == "ok"
    assert got[1]["cls"] == "hi" and got[3]["cls"] == "lo"


def test_regex_and_membership(frame):
    out = filterx(
        frame,
        """
        $is_h = $host =~ /^h[0-9]$/;
        if ($host in ["h1", "h3"]) { $grp = "a"; } else { $grp = "b"; };
        """,
    )
    got = _rows(out)
    assert all(got[i]["is_h"] for i in got)
    assert got[0]["grp"] == "a" and got[1]["grp"] == "b"


def test_done_stops_the_block(frame):
    out = filterx(
        frame,
        """
        $seen = true;
        if ($status == "error") { done; };
        $late = $latency_ms > 1000;
        """,
    )
    got = _rows(out)
    assert all(got[i]["seen"] for i in got)
    # error row hit done BEFORE $late was assigned -> stays null
    assert got[1]["late"] is None
    assert got[2]["late"] is True and got[0]["late"] is False


def test_unknown_field_reads_null(frame):
    out = filterx(frame, "$copy = $not_a_field ?? \"dflt\";")
    assert all(r["copy"] == "dflt" for r in out.collect())


def test_unset_and_functions(frame):
    out = filterx(
        frame,
        """
        unset($host);
        $up = upper($status ?? "");
        $h = sha256(string($id));
        $n = len($up);
        """,
    )
    got = _rows(out)
    assert got[0]["host"] is None
    assert got[1]["up"] == "ERROR" and got[1]["n"] == 5
    import hashlib

    assert got[0]["h"] == hashlib.sha256(b"0").hexdigest()


def test_parse_kv_builtin(spark):
    df = spark.createDataFrame([(1, 'a=1 b="x y"')], "id int, text string")
    out = filterx(df, "$kv = parse_kv($text);")
    assert out.collect()[0]["kv"] == {"a": "1", "b": "x y"}


def test_arithmetic_and_logic(frame):
    out = filterx(
        frame,
        """
        $x = $latency_ms * 2 + 10;
        $both = $latency_ms > 100 and $host == "h1";
        $either = $latency_ms > 2000 or $host == "h3";
        """,
    )
    got = _rows(out)
    assert got[0]["x"] == 250
    assert got[0]["both"] is True and got[1]["both"] is False
    assert got[1]["either"] is True and got[0]["either"] is False


def test_nested_if(frame):
    out = filterx(
        frame,
        """
        if ($host == "h1") {
          if ($latency_ms > 1000) { $k = "h1-slow"; } else { $k = "h1-fast"; };
        } else {
          $k = "other";
        };
        """,
    )
    got = _rows(out)
    assert got[0]["k"] == "h1-fast" and got[2]["k"] == "h1-slow"
    assert got[1]["k"] == "other"


def test_syntax_errors():
    with pytest.raises(FilterXSyntaxError):
        compile_filterx("$x = ;")
    with pytest.raises(FilterXSyntaxError):
        compile_filterx("if $a { $b = 2; };")  # missing parens
    with pytest.raises(FilterXSyntaxError):
        compile_filterx("$x = unknownfn($y);")
    with pytest.raises(FilterXSyntaxError):
        compile_filterx("$x = notdeclared;")


def test_compiled_block_is_reusable(frame):
    blk = compile_filterx('$ok = $status == "ok";', known_fields=frame.columns)
    out1 = blk.apply(frame)
    out2 = blk.apply(frame.filter(F.col("id") < 2))
    assert out1.count() == 4 and out2.count() == 2


def test_drop_then_assign_same_field(frame):
    # Regression (ADVICE r2): filter must resolve against ORIGINAL values,
    # not post-update ones — drop on $status then overwrite $status.
    out = filterx(
        frame,
        """
        if ($status == "error") { drop; };
        $status = "done";
        """,
    )
    got = _rows(out)
    assert set(got) == {0, 2, 3}
    assert all(r["status"] == "done" for r in got.values())


def test_filter_sees_original_after_assignment(frame):
    # `$lat = $lat * 2; $lat < 500;` — the bare-expression filter already
    # folds the assignment symbolically (lat*2 < 500); applying the frame
    # filter first must NOT double it again to lat*4.
    out = filterx(
        frame,
        """
        $latency_ms = $latency_ms * 2;
        $latency_ms < 500;
        """,
    )
    got = _rows(out)
    assert set(got) == {0, 3}
    assert got[0]["latency_ms"] == 240 and got[3]["latency_ms"] == 100


# ---------------------------------------------------------------------------
# round-3 surface: switch/case, +=, slicing, builtins
# ---------------------------------------------------------------------------


def test_switch_jump_fallthrough_break(frame):
    # expr-switch.c: enter at the matching case, fall through until
    # break; default wherever declared catches the rest
    out = filterx(
        frame,
        """
        $a = 0; $b = 0; $c = 0;
        switch ($status) {
        case "ok":
          $a = 1;
          break;
        case "error":
          $b = 1;
        default:
          $c = 1;
        };
        """,
    )
    got = _rows(out)
    assert (got[0]["a"], got[0]["b"], got[0]["c"]) == (1, 0, 0)  # break stops
    assert (got[1]["a"], got[1]["b"], got[1]["c"]) == (0, 1, 1)  # fallthrough
    assert (got[3]["a"], got[3]["b"], got[3]["c"]) == (0, 0, 1)  # default


def test_switch_range_case_and_default_before_case(frame):
    # default may be declared before later cases and still only fires
    # when NO case matches (jump-table semantics, not textual order)
    out = filterx(
        frame,
        """
        switch ($latency_ms) {
        default:
          $bucket = "other";
          break;
        case 0..1000:
          $bucket = "fast";
          break;
        case 1000..2000:
          $bucket = "mid";
          break;
        };
        """,
    )
    got = _rows(out)
    assert got[0]["bucket"] == "fast"      # 120
    assert got[2]["bucket"] == "mid"       # 1800
    assert got[1]["bucket"] == "other"     # 2500 -> default
    assert got[3]["bucket"] == "fast"      # 50


def test_switch_drop_inside_case(frame):
    out = filterx(
        frame,
        """
        switch ($status) {
        case "error":
          drop;
        default:
          $kept = true;
        };
        """,
    )
    got = _rows(out)
    assert set(got) == {0, 2, 3}
    assert all(v["kept"] for v in got.values())


def test_plus_assign_numeric_and_string(frame):
    out = filterx(
        frame,
        """
        declare n = 10;
        n += 5;
        $latency_ms += 1;
        $host += "-suffix";
        $total = n;
        """,
    )
    got = _rows(out)
    assert got[0]["total"] == 15
    assert got[0]["latency_ms"] == 121
    assert got[0]["host"] == "h1-suffix"


def test_string_slicing(frame):
    out = filterx(
        frame,
        """
        $s1 = $host[0..1];
        $s2 = $status[1..];
        $s3 = $status[..2];
        $s4 = $status[-2..];
        $s5 = $status[0..100];
        $bad = $status[3..1];
        """,
    )
    got = _rows(out)
    assert got[0]["s1"] == "h"
    assert got[0]["s2"] == "k"       # "ok"[1:]
    assert got[1]["s3"] == "er"
    assert got[1]["s4"] == "or"
    assert got[0]["s5"] == "ok"      # clamped
    assert got[1]["bad"] is None     # start > end


def test_map_subscript_after_parse_kv(spark):
    df = spark.createDataFrame([(0, "a=1 b=two")], "id int, kv string")
    out = filterx(df, '$m = parse_kv($kv); $b = $m["b"]; $x = $m["zz"];')
    row = out.collect()[0]
    assert row["b"] == "two" and row["x"] is None


def test_encode_builtins(spark):
    df = spark.createDataFrame([(0, "hello world")], "id int, t string")
    out = filterx(
        df,
        """
        $b64 = base64_encode($t);
        $rt = base64_decode(base64_encode($t));
        $hex = hex_encode($t);
        $hrt = hex_decode(hex_encode($t));
        $url = urlencode("a b&c");
        $urt = urldecode(urlencode("a b&c"));
        $sha = sha512($t);
        """,
    )
    row = out.collect()[0]
    import base64, hashlib
    assert row["b64"] == base64.b64encode(b"hello world").decode()
    assert row["rt"] == "hello world"
    assert row["hex"] == "hello world".encode().hex()
    assert row["hrt"] == "hello world"
    assert row["urt"] == "a b&c"
    assert row["sha"] == hashlib.sha512(b"hello world").hexdigest()


def test_time_builtins(spark):
    df = spark.createDataFrame(
        [(0, "2024-03-05 12:34:56")], "id int, ts string"
    )
    out = filterx(
        df,
        """
        $t = strptime($ts, "%Y-%m-%d %H:%M:%S");
        $iso = format_isodate(strptime($ts, "%Y-%m-%d %H:%M:%S"));
        $y = strftime("%Y/%m/%d", strptime($ts, "%Y-%m-%d %H:%M:%S"));
        """,
    )
    row = out.collect()[0]
    assert str(row["t"]).startswith("2024-03-05 12:34:56")
    assert row["iso"].startswith("2024-03-05T12:34:56")
    assert row["y"] == "2024/03/05"


def test_strptime_malformed_row_is_null(spark):
    # date-parser contract: a value no format matches is NULL; the
    # job completes and the other rows parse
    df = spark.createDataFrame(
        [(0, "2024-03-05 12:34:56"), (1, "not a date")], "id int, ts string"
    )
    out = _rows(filterx(df, '$t = strptime($ts, "%Y-%m-%d %H:%M:%S");'))
    assert str(out[0]["t"]).startswith("2024-03-05 12:34:56")
    assert out[1]["t"] is None


def test_timezone_builtins_malformed_row_is_null(spark):
    # fix/set/guess_timezone read their argument with try_cast: a value
    # that is not a timestamp makes that row NULL, the job completes
    df = spark.createDataFrame(
        [(0, "2024-03-05 12:00:00", "2024-03-05 11:00:02"),
         (1, "not a date", "2024-03-05 11:00:02")],
        "id int, s string, recvd_ts string",
    )
    out = _rows(filterx(df, """
        $fz = fix_timezone($s, "UTC");
        $sz = set_timezone($s, "UTC");
        $gz = guess_timezone($s);
        """))
    assert str(out[0]["fz"]).startswith("2024-03-05 12:00:00")
    assert str(out[0]["sz"]).startswith("2024-03-05 12:00:00")
    # a 12:00 wall clock received at 11:00 UTC was written at UTC+1
    assert str(out[0]["gz"]).startswith("2024-03-05 11:00:00")
    assert out[1]["fz"] is None and out[1]["sz"] is None
    assert out[1]["gz"] is None


def test_flatten_nested_and_array_document(spark):
    # the json-parser rules: all-string arrays become comma lists and
    # nesting flattens to the depth bound of json_flatten (8)
    df = spark.createDataFrame(
        [(0, '{"tags":["x","y"],"a":{"b":{"c":{"d":{"e":1}}}}}')],
        "id int, doc string",
    )
    out = _rows(filterx(df, "$flat = flatten($doc);"))
    assert out[0]["flat"] == {"tags": "x,y", "a.b.c.d.e": "1"}


def test_str_builtins(spark):
    df = spark.createDataFrame([(0, "  pad  ")], "id int, t string")
    out = filterx(
        df,
        """
        $l = str_lstrip($t);
        $r = str_rstrip($t);
        $c0 = strcasecmp("ABC", "abc");
        $c1 = strcasecmp("abc", "abd");
        $g = glob_match("example.com", "*.com");
        $v = utf8_validate($t);
        $j = format_json(parse_kv("a=1"));
        $ks = keys(parse_kv("a=1 b=2"));
        $sub = regexp_subst("aaa", "a", "b");
        """,
    )
    row = out.collect()[0]
    assert row["l"] == "pad  " and row["r"] == "  pad"
    assert row["c0"] == 0 and row["c1"] == -1
    assert row["g"] is True and row["v"] is True
    assert row["j"] == '{"a":"1"}'
    assert sorted(row["ks"]) == ["a", "b"]
    assert row["sub"] == "bbb"


def test_typecast_and_transform_builtins(spark):
    """lower/upper/str_strip, ip()/subnet() typecasts (null on
    invalid), dict_to_pairs, flatten, fix/set_timezone
    (filterx-globals.c:97-133 additions)."""
    df = spark.createDataFrame(
        [(0, "  MiXeD  ", "10.1.2.3", "999.1.2.3", '{"a":{"b":"1"},"c":"2"}')],
        "id int, t string, good_ip string, bad_ip string, doc string",
    )
    out = filterx(
        df,
        """
        $lo = lower($t);
        $up = upper($t);
        $st = str_strip($t);
        $ip_ok = ip($good_ip);
        $ip_bad = ip($bad_ip);
        $ip6 = ip("fe80::1");
        $net_ok = subnet("10.0.0.0/8");
        $net_bad = subnet("10.0.0.0/64");
        $flat = flatten($doc);
        $fz = fix_timezone(strptime("2024-03-05 12:00:00", "%Y-%m-%d %H:%M:%S"), "UTC+02:00");
        """,
    )
    row = out.collect()[0]
    assert row["lo"] == "  mixed  " and row["up"] == "  MIXED  "
    assert row["st"] == "MiXeD"
    assert row["ip_ok"] == "10.1.2.3" and row["ip_bad"] is None
    assert row["ip6"] == "fe80::1"
    assert row["net_ok"] == "10.0.0.0/8" and row["net_bad"] is None
    assert row["flat"] == {"a.b": "1", "c": "2"}
    # 12:00 wall clock reinterpreted as UTC+2 -> 10:00 UTC
    assert str(row["fz"]).startswith("2024-03-05 10:00:00")

    out2 = filterx(
        spark.createDataFrame([(0, "a=1 b=2")], "id int, kv string"),
        "$p = dict_to_pairs(parse_kv($kv));",
    )
    pairs = sorted((e["key"], e["value"]) for e in out2.collect()[0]["p"])
    assert pairs == [("a", "1"), ("b", "2")]


def test_break_outside_switch_is_an_error():
    with pytest.raises(FilterXSyntaxError):
        compile_filterx("break;")


def test_dict_and_list_literals(spark):
    """expr-literal-container.c: dict/list literal expressions; nested
    dicts flatten to dotted keys at compile time (open-schema map)."""
    from axosyslog_spark.functions.filterx_lang import compile_filterx

    df = spark.createDataFrame([(0, "h1", "err")], "id int, host string, st string")
    blk = compile_filterx(
        """
        $msg = {"host": $host, "nested": {"status": $st, "n": 2}};
        $tags = ["a", $st, 3];
        $empty_d = {};
        $empty_l = [];
        $js = format_json($msg);
        """,
        known_fields=df.columns,
    )
    r = blk.apply(df).first()
    assert r["msg"] == {"host": "h1", "nested.status": "err", "nested.n": "2"}
    assert r["tags"] == ["a", "err", "3"]
    assert r["empty_d"] == {} and r["empty_l"] == []
    import json as _json

    assert _json.loads(r["js"]) == {
        "host": "h1", "nested.status": "err", "nested.n": "2"
    }


def test_dict_literal_key_must_be_string(spark):
    from axosyslog_spark.functions.filterx_lang import (
        FilterXSyntaxError,
        compile_filterx,
    )
    import pytest as _pytest

    with _pytest.raises(FilterXSyntaxError):
        compile_filterx("$m = {key: 1};", known_fields=["key"])


def test_dict_member_assignment_and_unset(spark):
    """Ported behaviors from the reference's functional suite
    (tests/light test_filterx_dict.py): subscript/attr assignment on
    dict locals and fields, unset of a dict key, dynamic message-value
    keys."""
    from axosyslog_spark.functions.filterx_lang import compile_filterx

    df = spark.createDataFrame([(0, "test_key")], "id int, msg string")
    blk = compile_filterx(
        """
        declare log = {"id": "a", "m": "b"};
        unset(log.id);
        $from_local = log.m;
        declare d = {};
        d["test_key"] = "test_value";
        $looked_up = d[$msg];
        $f = {"x": "1"};
        $f["y"] = "2";
        $f["z"] = $msg;
        unset($f["x"]);
        """,
        known_fields=df.columns,
    )
    r = blk.apply(df).first()
    assert r["from_local"] == "b"
    assert r["looked_up"] == "test_value"
    # NOTE: $f.y on a FIELD lexes as the dotted column "f.y" (the
    # open-schema NV convention) — dict members on fields use the
    # subscript form; the attr form is for locals (log.id above)
    assert r["f"] == {"y": "2", "z": "test_key"}


def test_dict_member_assignment_respects_liveness(spark):
    from axosyslog_spark.functions.filterx_lang import compile_filterx

    df = spark.createDataFrame(
        [(0, "go"), (1, "stop")], "id int, msg string"
    )
    blk = compile_filterx(
        """
        $d = {"a": "1"};
        if ($msg == "go") {
          $d["b"] = "2";
        };
        """,
        known_fields=df.columns,
    )
    got = {r["id"]: r["d"] for r in blk.apply(df).collect()}
    assert got[0] == {"a": "1", "b": "2"}
    assert got[1] == {"a": "1"}


def test_vars_dumps_scope(frame):
    # func-vars.c: declared variables by name, message-tied writes
    # with a '$' prefix; exclude_msg_values=true keeps only declares
    out = filterx(
        frame,
        """
        declare thr = 1000;
        $slow = $latency_ms > thr;
        $dump = vars();
        $dump_novals = vars(exclude_msg_values=true);
        """,
    )
    got = _rows(out)
    assert got[1]["dump"] == {"thr": "1000", "$slow": "true"}
    assert got[0]["dump"] == {"thr": "1000", "$slow": "false"}
    assert got[1]["dump_novals"] == {"thr": "1000"}


def test_vars_exclude_must_be_literal(frame):
    with pytest.raises(FilterXSyntaxError):
        compile_filterx(
            "declare x = vars(exclude_msg_values=$status);",
            known_fields=frame.columns,
        )


def test_load_vars_is_removed(frame):
    # the reference ctor hard-errors: "deprecated and removed"
    with pytest.raises(FilterXSyntaxError):
        compile_filterx("$x = load_vars();", known_fields=frame.columns)


def test_move_is_identity(frame):
    out = filterx(frame, "$h2 = move($host);")
    got = _rows(out)
    assert all(got[i]["h2"] == got[i]["host"] for i in got)


def test_istype_decided_at_plan_time(spark):
    """istype() folds at plan time from literal shapes and the string
    column types += already dispatches on; it is no longer constant
    true."""
    df = spark.createDataFrame([(1, "x")], "n int, s string")
    r = filterx(df, """
        $a = istype($n, "string");
        $b = istype($s, "string");
        $c = istype("lit", "string");
        $d = istype(3, "integer");
        $e = istype(1.5, "integer");
        $f = istype([1, 2], "list");
        $g = istype({"k": 1}, "dict");
        $h = istype(null, "null");
    """).collect()[0]
    assert (r.a, r.b, r.c, r.d, r.e, r.f, r.g, r.h) == (
        False, True, True, True, False, True, True, True
    )


@pytest.mark.parametrize("block", [
    '$a = istype($n, "integer");',        # only known not to be a string
    '$a = istype($n + 1, "integer");',    # an expression operand
    '$s = 1; $a = istype($s, "string");', # written in this block
    '$a = istype($s, "str");',            # unknown type name
])
def test_istype_undecidable_raises(spark, block):
    df = spark.createDataFrame([(1, "x")], "n int, s string")
    with pytest.raises(FilterXSyntaxError, match="istype"):
        filterx(df, block)
