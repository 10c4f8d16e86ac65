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
    line = "LEEF:2.0|IBM|QRadar|1.0|12345|src=1.2.3.4\tact=allow"
    r = parse_leef(spark.createDataFrame([(line,)], "text string")).collect()[0]
    assert r.leef_ok is True
    assert r.vendor == "IBM" and r.event_id == "12345"
    assert r.leef_ext == {"src": "1.2.3.4", "act": "allow"}


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
