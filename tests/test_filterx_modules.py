"""Module-provided FilterX builtins reachable from a filterx {} block.

Reference registries: modules/cef/filterx-func-parse-cef.c (cef_fields),
filterx-func-parse-leef.c (leef_fields + LEEF 2.0 delimiter grammar),
filterx-func-format-cef.c / -format-leef.c (event-format-formatter.c),
modules/xml/filterx-func-format-xml.c, modules/csvparser/
filterx-func-parse-csv.c, lib/filterx/func-sdata.c,
lib/filterx/func-cache-json-file.c.
"""

from __future__ import annotations

import json

import pytest

from axosyslog_spark.functions.filterx_lang import filterx

CEF_LINE = (
    "CEF:0|Vendor|Product|1.2|eclass|Name with space|5|"
    "src=10.0.0.1 act=blocked but allowed dst=10.0.0.2"
)
LEEF1_LINE = "LEEF:1.0|IBM|QRadar|8.1|12345|src=10.0.0.1\tdst=10.0.0.2"
LEEF2_LINE = "LEEF:2.0|IBM|QRadar|8.1|12345|^|src=10.0.0.1^dst=10.0.0.2"
LEEF2_HEX = "LEEF:2.0|IBM|QRadar|8.1|12345|x5E|src=10.0.0.1^dst=10.0.0.2"


def _one(spark, text, block, col):
    df = spark.createDataFrame([(text,)], "text string")
    return filterx(df, block).select(col).first()[0]


def test_parse_cef_builtin(spark):
    m = _one(spark, CEF_LINE, "$m = parse_cef($text);", "m")
    assert m["cef_version"] == "0"
    assert m["device_vendor"] == "Vendor"
    assert m["device_event_class_id"] == "eclass"
    assert m["event_name"] == "Name with space"
    assert m["agent_severity"] == "5"
    assert m["src"] == "10.0.0.1"
    # kv-scanner value absorption: words without '=' join the value
    assert m["act"] == "blocked but allowed"
    assert m["dst"] == "10.0.0.2"


def test_parse_cef_non_cef_is_null(spark):
    assert _one(spark, "plain text", "$m = parse_cef($text);", "m") is None


def test_parse_leef_10(spark):
    m = _one(spark, LEEF1_LINE, "$m = parse_leef($text);", "m")
    assert m["leef_version"] == "1.0"
    assert m["vendor_name"] == "IBM"
    assert m["product_name"] == "QRadar"
    assert m["product_version"] == "8.1"
    assert m["event_id"] == "12345"
    assert m["src"] == "10.0.0.1" and m["dst"] == "10.0.0.2"


@pytest.mark.parametrize("line", [LEEF2_LINE, LEEF2_HEX])
def test_parse_leef_20_delimiters(spark, line):
    # literal single-char and xHH hex delimiter forms
    # (filterx-func-parse-leef.c _delimiter_multi_parser)
    m = _one(spark, line, "$m = parse_leef($text);", "m")
    assert m["leef_version"] == "2.0"
    assert m["src"] == "10.0.0.1" and m["dst"] == "10.0.0.2"


def test_format_cef_roundtrip(spark):
    out = _one(
        spark, CEF_LINE, "$line = format_cef(parse_cef($text));", "line"
    )
    assert out == CEF_LINE


def test_format_leef_roundtrip(spark):
    out = _one(
        spark, LEEF1_LINE, "$line = format_leef(parse_leef($text));", "line"
    )
    assert out == LEEF1_LINE


def test_parse_xml_builtin(spark):
    m = _one(
        spark,
        "<a><b attr='x'>v</b><c/></a>",
        "$m = parse_xml($text);",
        "m",
    )
    assert m["xml.a.b"] == "v"
    assert m["xml.a.b._attr"] == "x"


def test_parse_windows_eventlog_xml_builtin(spark):
    xml = (
        "<Event><System><EventID>4625</EventID></System>"
        "<EventData><Data Name='User'>bob</Data></EventData></Event>"
    )
    m = _one(spark, xml, "$m = parse_windows_eventlog_xml($text);", "m")
    assert m["winlog.Event.System.EventID"] == "4625"
    assert m["winlog.Event.EventData.Data.User"] == "bob"


def test_format_xml_builtin(spark):
    out = _one(
        spark,
        "x",
        '$m = parse_json("{\\"a\\": \\"1<2\\", \\"b\\": \\"\\"}");'
        "$line = format_xml($m);",
        "line",
    )
    assert out == "<a>1&lt;2</a><b/>"


def test_parse_csv_with_columns(spark):
    m = _one(
        spark,
        'x,"y,z",3',
        '$m = parse_csv($text, "c1,c2,c3");',
        "m",
    )
    assert m == {"c1": "x", "c2": "y,z", "c3": "3"}


def test_parse_csv_without_columns_is_a_list(spark):
    out = _one(spark, "a,b,c", "$l = parse_csv($text);", "l")
    assert out == ["a", "b", "c"]


def test_format_csv_builtins(spark):
    out = _one(spark, "a,b,c", "$line = format_csv(parse_csv($text), \";\");", "line")
    assert out == "a;b;c"
    out = _one(
        spark,
        'x,y',
        '$line = format_csv_values(parse_csv($text, "c1,c2"));',
        "line",
    )
    assert out == "x,y"


def test_sdata_builtins(spark):
    df = spark.createDataFrame(
        [(0, {".SDATA.ex@1.k": "v"}), (1, None)],
        "id int, sdata map<string,string>",
    )
    out = filterx(
        df, "$has = has_sdata(); $all = get_sdata();"
    ).orderBy("id").collect()
    assert out[0]["has"] is True
    assert out[0]["all"] == {".SDATA.ex@1.k": "v"}
    assert out[1]["has"] is False


def test_cache_json_file_builtin(spark, tmp_path):
    p = tmp_path / "lookup.json"
    p.write_text(json.dumps({"tool_a": {"owner": "alice"}, "plain": "yes"}))
    df = spark.createDataFrame([("tool_a",), ("nope",)], "tool string")
    out = filterx(
        df,
        f'$db = cache_json_file("{p}");'
        "$owner = $db[$tool + \".owner\"] ?? \"unknown\";",
    ).orderBy("tool").collect()
    assert [r["owner"] for r in out] == ["unknown", "alice"]


def test_cache_json_file_uses_json_parser_rules(spark, tmp_path):
    """The cached map is json-parser's flatten of the document: every
    nesting level dotted, JSON scalar text, null stays NULL."""
    from pyspark.sql import functions as F

    from axosyslog_spark.operators.jsonflatten import flatten_json_column

    doc = '{"a":{"b":{"c":1}},"t":true,"n":null,"l":["x","y"]}'
    p = tmp_path / "nested.json"
    p.write_text(doc)
    df = spark.createDataFrame([("x",)], "s string")
    got = filterx(df, f'$db = cache_json_file("{p}");').first()["db"]
    want = df.select(flatten_json_column(F.lit(doc))).first()[0]
    assert got == want
    assert got["a.b.c"] == "1" and got["t"] == "true" and got["n"] is None


def test_update_metric_counters(spark):
    from axosyslog_spark.functions.filterx_lang import compile_filterx

    df = spark.createDataFrame(
        [(0, "ok", 10), (1, "error", 20), (2, "ok", 30), (3, "error", 40)],
        "id int, status string, n int",
    )
    blk = compile_filterx(
        """
        update_metric("seen");
        if ($status == "error") {
          update_metric("errors");
          drop;
        };
        update_metric("kept", $n);
        """,
        known_fields=df.columns,
        string_fields={"status"},
    )
    out = blk.apply(df)
    rows = out.collect()
    assert sorted(r["id"] for r in rows) == [0, 2]
    got = blk.observation.get
    # every row reaches the first statement; the branch counter only
    # fires on the error path; the post-drop counter only on survivors
    assert got["seen"] == 4
    assert got["errors"] == 2
    assert got["kept"] == 40  # 10 + 30


def test_update_metric_else_branch_counts_null_cond(spark):
    """ADVICE r3 (low): when the if-condition is NULL (comparison on a
    missing value), the value phis route the row to the ELSE branch —
    the else-branch metric must fire for it too, not sit in the
    ~cond NULL gap and undercount."""
    from axosyslog_spark.functions.filterx_lang import compile_filterx

    df = spark.createDataFrame(
        [(0, "error"), (1, "ok"), (2, None)],
        "id int, status string",
    )
    blk = compile_filterx(
        """
        if ($status == "error") {
          update_metric("err");
          $route = "e";
        } else {
          update_metric("other");
          $route = "o";
        };
        """,
        known_fields=df.columns,
        string_fields={"status"},
    )
    out = blk.apply(df)
    routes = {r["id"]: r["route"] for r in out.collect()}
    got = blk.observation.get
    # row 2 (NULL status) takes the else data path...
    assert routes == {0: "e", 1: "o", 2: "o"}
    # ...and the metric path must agree with the data path
    assert got["err"] == 1
    assert got["other"] == 2


def test_parse_kv_duplicate_keys_no_abort(spark):
    """Dup keys in filterx parse_kv overwrite (last wins) instead of
    aborting under mapKeyDedupPolicy=EXCEPTION."""
    from axosyslog_spark.functions.filterx_lang import compile_filterx

    df = spark.createDataFrame(
        [(0, "a=1 b=2 a=3")], "id int, text string"
    )
    blk = compile_filterx(
        '$kv = parse_kv($text);', known_fields=df.columns,
        string_fields={"text"},
    )
    r = blk.apply(df).first()
    assert r["kv"]["a"] == "3" and r["kv"]["b"] == "2"


def test_format_syslog_5424(spark):
    """filterx format_syslog_5424() with keyword args
    (filterx-func-format-syslog.c): explicit fields, '-' for absent
    ones, pri/timestamp falling back to the message's own columns,
    and add_octet_count framing."""
    import datetime as dt

    from axosyslog_spark.functions.filterx_lang import compile_filterx

    df = spark.createDataFrame(
        [(165, dt.datetime(2024, 5, 1, 10, 0, 1), "gw1", "payload text")],
        "pri int, ts timestamp, host string, text string",
    )
    blk = compile_filterx(
        """
        $line = format_syslog_5424($text, host=$host, program="app",
                                   pid="42", msgid="ID7");
        $fallback = format_syslog_5424($text);
        $framed = format_syslog_5424($text, add_octet_count=true,
                                     pri=34, timestamp=$ts, host=$host);
        """,
        known_fields=df.columns,
        string_fields={"host", "text"},
    )
    r = blk.apply(df).first()
    assert r["line"] == (
        "<165>1 2024-05-01T10:00:01Z gw1 app 42 ID7 - payload text"
    )
    # absent kwargs: '-' fields, pri/ts from the frame's own columns
    assert r["fallback"] == (
        "<165>1 2024-05-01T10:00:01Z - - - - - payload text"
    )
    body = "<34>1 2024-05-01T10:00:01Z gw1 - - - - payload text"
    assert r["framed"] == f"{len(body)} {body}"


def test_format_syslog_5424_rejects_non_literal_octet_count(spark):
    """add_octet_count changes the output SHAPE; a runtime-varying
    value can't be honored column-wise, so a non-literal argument is
    a compile error, never a silent ignore."""
    import pytest

    from axosyslog_spark.functions.filterx_lang import (
        FilterXSyntaxError,
        compile_filterx,
    )

    with pytest.raises(FilterXSyntaxError, match="add_octet_count"):
        compile_filterx(
            "$line = format_syslog_5424($text, add_octet_count=$flag);",
            known_fields=["text", "flag"],
            string_fields={"text", "flag"},
        )


def test_format_windows_eventlog_xml(spark):
    from axosyslog_spark.functions.filterx_lang import compile_filterx

    df = spark.createDataFrame([(1,)], "id int")
    blk = compile_filterx(
        """
        declare d = parse_json("{\\"Event.System.Provider\\": \\"app\\",
          \\"Event.EventData.TargetUser\\": \\"bob<x>\\",
          \\"Event.EventData.Empty\\": \\"\\"}");
        $xml = format_windows_eventlog_xml(d);
        """,
        known_fields=df.columns,
    )
    r = blk.apply(df).first()
    assert r["xml"] == (
        "<Event.System.Provider>app</Event.System.Provider>"
        "<Data Name='TargetUser'>bob&lt;x&gt;</Data>"
        "<Data Name='Empty' />"
    )


# ---------------------------------------------------------------------------
# round-5: digest, uuid7, sdata enterprise probe, timestamp accessors,
# set_pri, type ctors
# ---------------------------------------------------------------------------


def test_digest_and_type_ctors(spark):
    import hashlib

    from axosyslog_spark.functions.filterx_lang import compile_filterx

    df = spark.createDataFrame([(0, "payload")], "id int, text string")
    blk = compile_filterx(
        """
        $d256 = digest($text);
        $d1 = digest($text, "sha1");
        $dm = digest($text, alg="md5");
        $obj = json("{\\"a\\": \\"1\\"}");
        $arr = json_array("[\\"x\\",\\"y\\"]");
        $empty = dict();
        """,
        known_fields=df.columns,
    )
    r = blk.apply(df).first()
    assert r["d256"] == hashlib.sha256(b"payload").hexdigest()
    assert r["d1"] == hashlib.sha1(b"payload").hexdigest()
    assert r["dm"] == hashlib.md5(b"payload").hexdigest()
    assert r["obj"] == {"a": "1"}
    assert r["arr"] == ["x", "y"]
    assert r["empty"] == {}


def test_digest_bad_algo_rejected(spark):
    from axosyslog_spark.functions.filterx_lang import (
        FilterXSyntaxError,
        compile_filterx,
    )

    with pytest.raises(FilterXSyntaxError):
        compile_filterx('$d = digest($text, "crc32");', known_fields=["text"])


def test_uuid7_shape(spark):
    from axosyslog_spark.functions.filterx_lang import compile_filterx

    df = spark.createDataFrame([(0,)], "id int")
    blk = compile_filterx("$u = uuid7();", known_fields=df.columns)
    u = blk.apply(df).first()["u"]
    import re as _re

    assert _re.fullmatch(
        r"[0-9a-f]{8}-[0-9a-f]{4}-7[0-9a-f]{3}-[0-9a-f]{4}-[0-9a-f]{12}", u
    ), u


def test_is_sdata_from_enterprise(spark):
    from axosyslog_spark.functions.filterx_lang import compile_filterx

    df = spark.createDataFrame(
        [
            (0, {"meta@32473.seq": "1"}),
            (1, {"origin@99999": "x"}),
            (2, {"plain": "y"}),
        ],
        "id int, sdata map<string,string>",
    )
    blk = compile_filterx(
        "$hit = is_sdata_from_enterprise(\"32473\");",
        known_fields=df.columns,
    )
    got = {r["id"]: r["hit"] for r in blk.apply(df).collect()}
    assert got == {0: True, 1: False, 2: False}


def test_set_pri_and_timestamps(spark):
    from axosyslog_spark.functions.filterx_lang import compile_filterx

    df = spark.createDataFrame(
        [(0, 13, 5, 1, "2024-01-01 00:00:05", "2024-01-01 00:00:09")],
        "id int, pri int, severity int, facility int, ts_s string, rs string",
    ).selectExpr(
        "id", "pri", "severity", "facility",
        "to_timestamp(ts_s) as ts", "to_timestamp(rs) as recvd_ts",
    )
    blk = compile_filterx(
        """
        set_pri(165);
        $stamp = get_timestamp();
        $rcv = get_timestamp(stamp="recvd");
        set_timestamp($rcv);
        """,
        known_fields=df.columns,
    )
    r = blk.apply(df).first()
    assert (r["pri"], r["severity"], r["facility"]) == (165, 5, 20)
    assert str(r["rcv"]).startswith("2024-01-01 00:00:09")
    assert str(r["ts"]).startswith("2024-01-01 00:00:09")  # set_timestamp wrote it
    assert str(r["stamp"]).startswith("2024-01-01 00:00:05")

    # out-of-range pri keeps the previous value (reference runtime error)
    blk2 = compile_filterx("set_pri(500);", known_fields=df.columns)
    r2 = blk2.apply(df).first()
    assert (r2["pri"], r2["severity"], r2["facility"]) == (13, 5, 1)


def test_set_fields(spark):
    """func-set-fields.c: overrides always win (first non-null),
    replacements apply only to present keys, defaults only to absent
    ones; null candidates are skipped; nothing valid -> key untouched."""
    from axosyslog_spark.functions.filterx_lang import compile_filterx

    df = spark.createDataFrame(
        [(0, {"a": "1", "b": "2"}, "zz", None)],
        "id int, d map<string,string>, src string, nul string",
    )
    blk = compile_filterx(
        """
        set_fields($d,
          overrides={"a": [$nul, $src], "x": $nul},
          defaults={"c": "dc", "b": "db"},
          replacements={"b": "rb", "y": "ry"});
        """,
        known_fields=df.columns,
    )
    r = blk.apply(df).first()
    # a: first override ($nul) skipped, $src wins -> "zz"
    # x: only a null override, key absent, no default -> stays absent
    # b: present -> replacement "rb" (default ignored)
    # c: absent -> default "dc"
    # y: absent -> replacement does NOT apply
    assert r["d"] == {"a": "zz", "b": "rb", "c": "dc"}


def test_metrics_labels(spark):
    from axosyslog_spark.functions.filterx_lang import compile_filterx

    df = spark.createDataFrame([(0, "h1")], "id int, host string")
    blk = compile_filterx(
        """
        $labels = metrics_labels({"host": $host, "app": "x"});
        $empty = metrics_labels();
        $ok = dedup_metrics_labels($labels);
        """,
        known_fields=df.columns,
    )
    r = blk.apply(df).first()
    assert r["labels"] == {"host": "h1", "app": "x"}
    assert r["empty"] == {} and r["ok"] is True


def test_unset_empties_variants(spark):
    """Cases ported from the reference functional suite
    (test_filterx_funcs.py unset_empties family, flat-map subset):
    defaults remove NULL + ""; explicit targets REPLACE defaults (NULL
    removed only when null is listed); ignorecase; replacement
    substitutes instead of removing."""
    from axosyslog_spark.functions.filterx_lang import compile_filterx

    df = spark.createDataFrame(
        [(0, "x")],
        "id int, msg string",
    )
    blk = compile_filterx(
        """
        declare src = {"foo": "", "bar": "-", "baz": "N/A"};
        $defaults = unset_empties(src);
        unset_empties(src, targets=["n/a", "-"], recursive=true,
                      ignorecase=true);
        $no_defaults = src;
        declare t2 = {"foo": "", "bar": "-", "baz": "N/A"};
        unset_empties(t2, targets=["n/a", "-", ""], ignorecase=false);
        $tgt = t2;
        declare t3 = {"foo": "", "bar": "-", "baz": "N/A"};
        unset_empties(t3, targets=["n/a", "-", ""], ignorecase=true,
                      replacement="do");
        $repl = t3;
        """,
        known_fields=df.columns,
    )
    r = blk.apply(df).first()
    assert r["defaults"] == {"bar": "-", "baz": "N/A"}
    # targets replace defaults: "" survives, "-" and "N/A" (folded) go
    assert r["no_defaults"] == {"foo": ""}
    # case-sensitive: "N/A" != "n/a" -> survives
    assert r["tgt"] == {"baz": "N/A"}
    assert r["repl"] == {"foo": "do", "bar": "do", "baz": "do"}


def test_startswith_endswith_includes_list_args(spark):
    """func-str.c any-of semantics: a [...] second argument matches
    when ANY element matches (ported from the reference functional
    startswith/endswith/includes cases, msg=fooBARbAz)."""
    from axosyslog_spark.functions.filterx_lang import compile_filterx

    df = spark.createDataFrame([(0, "fooBARbAz")], "id int, msg string")
    blk = compile_filterx(
        """
        declare foo = "foo";
        declare bar = "bar";
        $s1 = startswith($msg, "foo");
        $s2 = startswith($msg, ["foo"]);
        $s3 = startswith($msg, ["bar", "foo"]);
        $s4 = startswith($msg, [bar, foo]);
        $s5 = startswith($msg, ["bar"]);
        $e1 = endswith($msg, ["xyz", "bAz"]);
        $i1 = includes($msg, ["nope", "BAR"]);
        $i2 = includes($msg, ["nope"]);
        """,
        known_fields=df.columns,
    )
    r = blk.apply(df).first()
    assert (r["s1"], r["s2"], r["s3"], r["s4"], r["s5"]) == (
        True, True, True, True, False
    )
    assert r["e1"] is True and r["i1"] is True and r["i2"] is False
