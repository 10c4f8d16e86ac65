"""FilterX expression + CEF/LEEF parser tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from axosyslog_spark.functions.filterx_lang import filterx
from axosyslog_spark.operators.cef import parse_cef, parse_leef


def test_filterx_exprs(spark):
    df = spark.createDataFrame(
        [("a", None, "k1=v1 k2= k3=v3", "hello")],
        "s string, missing string, kv string, txt string",
    )
    r = filterx(df, r"""
        $nc = $missing ?? "dflt";
        $t = $s == "a" ? 1 : 0;
        switch ($s) {
          case "a": $sw = "A"; break;
          case "b": $sw = "B"; break;
          default: $sw = "?";
        }
        $inn = $s in ["a", "z"];
        $m = $txt =~ /^hel/;
        $grp = regexp_search($kv, "k1=(\\w+) k2");
        $sl = $txt[1..4];
        $iss = isset($missing);
        $kvmap = parse_kv($kv);
        $out = format_kv(unset_empties(parse_kv($kv)));
    """).collect()[0]
    assert r.nc == "dflt" and r.t == 1 and r.sw == "A"
    assert r.inn is True and r.m is True
    assert r.grp == ["v1"] and r.sl == "ell"
    assert r.iss is False
    assert r.kvmap == {"k1": "v1", "k2": "", "k3": "v3"}
    # unset_empties / format_kv roundtrip
    assert r.out == "k1=v1 k3=v3"


def test_parse_cef(spark):
    line = (
        "CEF:0|SecCorp|WAF|1.2|100|Blocked request|7|"
        "src=10.0.0.1 dst=10.0.0.2 act=block"
    )
    df = spark.createDataFrame([(line,), ("not cef",)], "text string")
    rows = {r.text: r for r in parse_cef(df).collect()}
    r = rows[line]
    assert r.cef_ok is True
    assert r.vendor == "SecCorp" and r.product == "WAF"
    assert r.event_class == "100" and r.cef_severity == "7"
    assert r.cef_ext == {"src": "10.0.0.1", "dst": "10.0.0.2", "act": "block"}
    assert rows["not cef"].cef_ok is False and rows["not cef"].vendor is None


def test_parse_cef_escaped_pipe(spark):
    line = "CEF:0|Sec\\|Corp|WAF|1|1|n|1|k=v"
    r = parse_cef(spark.createDataFrame([(line,)], "text string")).collect()[0]
    assert r.cef_ok is True
    assert r.vendor == "Sec|Corp"


def test_parse_leef(spark):
    lines = [
        "LEEF:1.0|IBM|QRadar|1.0|12345|src=1.2.3.4\tact=allow",
        # an empty LEEF 2.0 delimiter field means tab
        "LEEF:2.0|IBM|QRadar|1.0|12345||src=1.2.3.4\tact=allow",
    ]
    # LEEF 2.0 without its delimiter field is not a LEEF line
    bad = "LEEF:2.0|IBM|QRadar|1.0|12345|src=1.2.3.4\tact=allow"
    df = spark.createDataFrame([(t,) for t in lines + [bad]], "text string")
    rows = {r.text: r for r in parse_leef(df).collect()}
    for line in lines:
        r = rows[line]
        assert r.leef_ok is True
        assert r.vendor == "IBM" and r.event_id == "12345"
        assert r.leef_ext == {"src": "1.2.3.4", "act": "allow"}
    assert rows[bad].leef_ok is False and rows[bad].leef_ext is None


def test_cef_duplicate_ext_keys_no_abort(spark):
    """Duplicate extension keys (and ext keys colliding with header
    names) overwrite last-wins instead of aborting the job under
    mapKeyDedupPolicy=EXCEPTION."""
    from axosyslog_spark.operators.cef import parse_cef_fx, parse_leef_fx

    df = spark.createDataFrame(
        [
            (0, "CEF:0|V|P|1.0|id|nm|5|src=1.1.1.1 src=2.2.2.2 event_name=x"),
            (1, "LEEF:1.0|V|P|1.0|id|k=a\tk=b\tvendor_name=y"),
        ],
        "id int, text string",
    )
    out = {
        r["id"]: (r["c"], r["l"])
        for r in df.select(
            "id",
            parse_cef_fx(F.col("text")).alias("c"),
            parse_leef_fx(F.col("text")).alias("l"),
        ).collect()
    }
    c = out[0][0]
    assert c["src"] == "2.2.2.2"          # dup ext key: last wins
    assert c["event_name"] == "x"          # ext overwrites header slot
    l = out[1][1]
    assert l["k"] == "b" and l["vendor_name"] == "y"


def test_cef_df_parser_duplicate_ext_keys(spark):
    df = spark.createDataFrame(
        [("CEF:0|V|P|1.0|id|nm|5|a=1 a=2 b=3",)], "text string"
    )
    ext = parse_cef(df).first()["cef_ext"]
    assert ext["a"] == "2" and ext["b"] == "3"


# (line, header values, extension map); header None = not this format
EVENT_FORMAT_TABLE = [
    (
        "CEF:0|V|P|1|100|name|5|msg=hello world src=1.2.3.4",
        ("0", "V", "P", "1", "100", "name", "5"),
        {"msg": "hello world", "src": "1.2.3.4"},
    ),
    # an escaped backslash ends the vendor field
    ("CEF:0|V\\\\|P|1|100|n|5|k=v", ("0", "V\\", "P", "1", "100", "n", "5"), {"k": "v"}),
    ("CEF:0|V|P", None, None),
    ("LEEF:2.0|V|P|1|100|^|src=1.2.3.4^msg=hi", ("2.0", "V", "P", "1", "100"),
     {"src": "1.2.3.4", "msg": "hi"}),
    ("LEEF:2.0|V|P|1|100|x5E|src=1.2.3.4^msg=hi", ("2.0", "V", "P", "1", "100"),
     {"src": "1.2.3.4", "msg": "hi"}),
    ("LEEF:1.0|V\\|X|P|1|100|src=1.2.3.4\tmsg=a|b", ("1.0", "V|X", "P", "1", "100"),
     {"src": "1.2.3.4", "msg": "a|b"}),
    ("LEEF:1.0|V|P", None, None),
    ("plain text with no pipes", None, None),
    # STX/ETX bytes in an extension value are data
    ("CEF:0|V|P|1|100|n|5|k=a\x02b\x03c", ("0", "V", "P", "1", "100", "n", "5"),
     {"k": "a\x02b\x03c"}),
    ("LEEF:1.0|V|P|1|100|k=a\x02b\x03c", ("1.0", "V", "P", "1", "100"),
     {"k": "a\x02b\x03c"}),
    # a long quoted value costs the regex no stack frame per character
    ('CEF:0|V|P|1|100|n|5|k="%s" m=1' % ("a" * 20000), ("0", "V", "P", "1", "100", "n", "5"),
     {"k": "a" * 20000, "m": "1"}),
]


def test_event_format_parity(spark):
    """Each line gives the same answer from the DataFrame operator
    (header columns + extension map) and the FilterX builtin (one map
    under the reference's dict key names)."""
    cef_names = (
        ("cef_version", "cef_version"), ("vendor", "device_vendor"),
        ("product", "device_product"), ("device_version", "device_version"),
        ("event_class", "device_event_class_id"), ("event_name", "event_name"),
        ("cef_severity", "agent_severity"),
    )
    leef_names = (
        ("leef_version", "leef_version"), ("vendor", "vendor_name"),
        ("product", "product_name"), ("firmware", "product_version"),
        ("event_id", "event_id"),
    )
    df = spark.createDataFrame([(t,) for t, _, _ in EVENT_FORMAT_TABLE], "text string")
    fx_rows = filterx(df, "$cef = parse_cef($text); $leef = parse_leef($text);").collect()
    for fmt, op, name_map in (("cef", parse_cef, cef_names), ("leef", parse_leef, leef_names)):
        names, fx_names = zip(*name_map)
        rows = {r.text: r for r in op(df).collect()}
        fxs = {r.text: r[fmt] for r in fx_rows}
        for line, hdr, ext in EVENT_FORMAT_TABLE:
            r, fx = rows[line], fxs[line]
            mine = hdr is not None and line.startswith(fmt.upper() + ":")
            assert r[f"{fmt}_ok"] is mine, (line, fmt)
            if not mine:
                assert fx is None and r[f"{fmt}_ext"] is None, (line, fmt)
                continue
            assert tuple(r[n] for n in names) == hdr, line
            assert r[f"{fmt}_ext"] == ext, line
            assert fx == {**dict(zip(fx_names, hdr)), **ext}, line


def test_event_format_builtins_on_mixed_parquet(spark, tmp_path):
    """A parquet-backed frame of LEEF, CEF and plain-text rows goes
    through parse_leef() and parse_cef() without aborting the job."""
    path = str(tmp_path / "mixed.parquet")
    spark.createDataFrame(
        [(i, t) for i, (t, _, _) in enumerate(EVENT_FORMAT_TABLE)], "id int, text string"
    ).write.parquet(path)
    out = filterx(
        spark.read.parquet(path), "$l = parse_leef($text); $c = parse_cef($text);"
    ).orderBy("id").collect()
    assert [r.l is not None for r in out] == [
        hdr is not None and t.startswith("LEEF:") for t, hdr, _ in EVENT_FORMAT_TABLE
    ]
    assert [r.c is not None for r in out] == [
        hdr is not None and t.startswith("CEF:") for t, hdr, _ in EVENT_FORMAT_TABLE
    ]


def test_parse_csv_list_and_dict_agree_on_quotes(spark):
    lines = {
        '"a,b",c,d': ["a,b", "c", "d"],
        'x,"y \\"z\\"",w': ["x", 'y "z"', "w"],
        # empty fields, leading and trailing, are fields
        ",b,c": ["", "b", "c"],
        "a,,": ["a", "", ""],
        "1,,3": ["1", "", "3"],
        # a long quoted field costs the regex no recursion per character
        '"' + "q" * 20000 + '",c,d': ["q" * 20000, "c", "d"],
    }
    df = spark.createDataFrame([(t,) for t in lines], "t string")
    rows = filterx(df, '$l = parse_csv($t); $m = parse_csv($t, "x,y,z");').collect()
    for r in rows:
        assert r.l == lines[r.t]
        assert r.m == dict(zip("xyz", lines[r.t]))
