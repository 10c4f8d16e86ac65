"""RFC5424 SDATA parsing + add-contextual-data CSV db semantics."""

from __future__ import annotations

from pyspark.sql import functions as F
from axosyslog_spark.operators.enrich import enrich_with_context_db, load_context_db
from axosyslog_spark.operators.parse import format_sdata, parse_sdata


def test_parse_sdata(spark):
    rows = [
        (0, '[exampleSDID@32473 iut="3" eventSource="Application"][origin ip="1.2.3.4"]'),
        (1, "-"),
        (2, None),
        (3, "[empty]"),
    ]
    df = spark.createDataFrame(rows, "id int, sd string")
    got = {r.id: r.sdata for r in parse_sdata(df, "sd").collect()}
    assert got[0] == {
        ".SDATA.exampleSDID@32473.iut": "3",
        ".SDATA.exampleSDID@32473.eventSource": "Application",
        ".SDATA.origin.ip": "1.2.3.4",
    }
    # a bare SD-ID is stored with an empty value (test_syslog_format.c)
    assert got[1] == {} and got[2] == {} and got[3] == {".SDATA.empty": ""}


def test_sdata_escaped_value_chars(spark):
    df = spark.createDataFrame(
        [
            (0, '[m k="a b c" n="x=y"]'),
            # RFC5424 PARAM-VALUE escapes \" \\ \] unescape into the value
            (1, r'[id msg="a \"b=c\"" p="x\]y\\z"][id2 q=1]'),
        ],
        "id int, sd string",
    )
    got = {r.id: r.sdata for r in parse_sdata(df, "sd").collect()}
    assert got[0][".SDATA.m.k"] == "a b c"
    assert got[0][".SDATA.m.n"] == "x=y"
    assert got[1] == {
        ".SDATA.id.msg": 'a "b=c"',
        ".SDATA.id.p": "x]y\\z",
        ".SDATA.id2.q": "1",
    }
    # format_sdata escapes what parse_sdata unescapes: the map round-trips
    rendered = parse_sdata(df, "sd").select(
        "id", format_sdata(F.col("sdata")).alias("sd")
    )
    again = {r.id: r.sdata for r in parse_sdata(rendered, "sd").collect()}
    assert again == got


def _db(spark, tmp_path):
    csv = tmp_path / "db.csv"
    csv.write_text(
        "web1,role,frontend\n"
        "web1,dc,us-east\n"
        "db1,role,database\n"
        "DEFAULT,role,unknown\n"
        "DEFAULT,dc,none\n"
    )
    return load_context_db(spark, str(csv))


def test_context_db_pivot(spark, tmp_path):
    db = _db(spark, tmp_path)
    got = {r.selector: r.nv for r in db.collect()}
    assert got["web1"] == {"role": "frontend", "dc": "us-east"}
    assert got["db1"] == {"role": "database"}


def test_enrich_with_default_selector(spark, tmp_path):
    db = _db(spark, tmp_path)
    df = spark.createDataFrame(
        [("web1",), ("db1",), ("mystery",)], "host string"
    )
    out = {r.host: r.ctx for r in enrich_with_context_db(
        df, db, "host", default_selector="DEFAULT").collect()}
    assert out["web1"] == {"role": "frontend", "dc": "us-east"}
    assert out["mystery"] == {"role": "unknown", "dc": "none"}   # default record


def test_enrich_without_default(spark, tmp_path):
    db = _db(spark, tmp_path)
    df = spark.createDataFrame([("mystery",)], "host string")
    out = enrich_with_context_db(df, db, "host", prefix="ctx.").collect()[0]
    assert out.ctx == {}


def test_enrich_prefix(spark, tmp_path):
    db = _db(spark, tmp_path)
    df = spark.createDataFrame([("db1",)], "host string")
    out = enrich_with_context_db(df, db, "host", prefix="ctx.").collect()[0]
    assert out.ctx == {"ctx.role": "database"}


def test_sdata_roundtrip(spark):
    """parse_sdata -> format_sdata reproduces the original STRUCTURED-
    DATA text bit-exactly (multi-block, multi-param, '-' for empty)."""
    from axosyslog_spark.operators.parse import format_sdata, parse_sdata

    lines = [
        '[meta seq="42" host="h1"][origin ip="10.0.0.1"]',
        '[exampleSDID@32473 iut="3" eventSource="App"]',
        "-",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(lines)], "id int, sd string")
    parsed = parse_sdata(df, "sd")
    out = {
        r["id"]: r["rendered"]
        for r in parsed.select(
            "id", format_sdata(F.col("sdata")).alias("rendered")
        ).collect()
    }
    assert out == {0: lines[0], 1: lines[1], 2: "-"}


def test_sdata_parser_c_suite_cases(spark):
    """Ported from test_syslog_format.c's _extract_sdata cases: '-'
    and invalid bracket shapes give an empty map, a bare SD-ID stores
    an empty value, unquoted param values (the VMware shape) parse and
    round-trip quoted through format_sdata."""
    from pyspark.sql import functions as F

    from axosyslog_spark.operators.parse import format_sdata, parse_sdata

    cases = [
        (0, "-"), (1, "["), (2, "[]"), (3, "]"), (4, "[foobar"),
        (5, "[foobar]"),
        (6, '[foo bar="baz"]'),
        (7, "[foo bar=baz]"),
        (8, "[Originator@6876 sub=Vimsvc.ha-eventmgr opID=esxui-13c6-6b16 sid=5214bde6 user=root]"),
    ]
    df = parse_sdata(
        spark.createDataFrame(cases, "id int, text string"), "text"
    )
    out = {r["id"]: r["sdata"] for r in df.collect()}
    for i in (0, 1, 2, 3, 4):
        assert out[i] in (None, {}), (i, out[i])
    assert out[5] == {".SDATA.foobar": ""}
    assert out[6] == {".SDATA.foo.bar": "baz"}
    assert out[7] == {".SDATA.foo.bar": "baz"}
    assert out[8][".SDATA.Originator@6876.sub"] == "Vimsvc.ha-eventmgr"
    assert out[8][".SDATA.Originator@6876.user"] == "root"
    # the $SDATA macro re-renders unquoted input QUOTED
    rendered = {
        r["id"]: r["sd"]
        for r in df.withColumn("sd", format_sdata(F.col("sdata"))).collect()
    }
    assert rendered[7] == '[foo bar="baz"]'


def test_glob_selector_c_suite(spark, tmp_path):
    """test_glob_selector.c: first db glob (declaration order) that
    matches the expanded template wins; no match -> the row keeps an
    empty context (NULL selector)."""
    from pyspark.sql import functions as F

    from axosyslog_spark.operators.enrich import (
        enrich_with_context_db_glob,
        glob_selector,
        load_context_db,
    )

    df = spark.createDataFrame(
        [(0, "localhost"), (1, "lacsomething"), (2, "good"),
         (3, "goodstuff"), (4, "nomatch-here")],
        "id int, host string",
    )
    sel = glob_selector(F.col("host"), ["local*", "loc*", "lac*"])
    got = {r["id"]: r["s"] for r in df.select("id", sel.alias("s")).collect()}
    assert got[0] == "local*"      # first match wins, not loc*
    assert got[1] == "lac*"
    assert got[4] is None

    sel2 = glob_selector(F.col("host"), ["unmatch1", "unmatch2", "good*"])
    got2 = {r["id"]: r["s"] for r in df.select("id", sel2.alias("s")).collect()}
    assert got2[2] == "good*" and got2[3] == "good*"

    # end-to-end through the CSV db: matching rows get the record
    csv = tmp_path / "db.csv"
    csv.write_text('local*,site,eu\nlac*,site,us\n')
    db = load_context_db(spark, str(csv))
    out = {r["id"]: r["ctx"] for r in enrich_with_context_db_glob(
        df, db, "host").collect()}
    assert out[0] == {"site": "eu"}
    assert out[1] == {"site": "us"}
    assert out[4] == {}


def test_filter_selector_first_match(spark, tmp_path):
    """test_filter_selector.c shape: db selectors name filters; the
    first filter (declaration order) whose condition holds wins."""
    from pyspark.sql import functions as F

    from axosyslog_spark.operators.enrich import (
        enrich_with_context_db_filters,
        load_context_db,
    )

    df = spark.createDataFrame(
        [(0, "err", "web1"), (1, "ok", "db9"), (2, "ok", "web2")],
        "id int, status string, host string",
    )
    filters = [
        ("f_err", F.col("status") == "err"),
        ("f_web", F.col("host").startswith("web")),  # row 0 matches BOTH
        ("f_db", F.col("host").startswith("db")),
    ]
    csv = tmp_path / "db.csv"
    csv.write_text("f_err,team,oncall\nf_web,team,frontend\nf_db,team,storage\n")
    db = load_context_db(spark, str(csv))
    out = {r["id"]: r["ctx"] for r in enrich_with_context_db_filters(
        df, db, filters).collect()}
    assert out[0] == {"team": "oncall"}     # first match, not f_web
    assert out[1] == {"team": "storage"}
    assert out[2] == {"team": "frontend"}
