"""Rewrite stage + template function unit tests (lib/rewrite/,
modules/basicfuncs/)."""

from __future__ import annotations

from pyspark.sql import functions as F

from axosyslog_spark.functions import templates as tf
from axosyslog_spark.functions.template_compiler import TemplateContext, compile_template
from axosyslog_spark.operators import rewrite as rw


def _one(spark, **cols):
    row = tuple(cols.values())
    schema = ", ".join(f"{k} {'int' if isinstance(v, int) else 'string'}" for k, v in cols.items())
    return spark.createDataFrame([row], schema)


def test_set_unset_rename(spark):
    df = _one(spark, a="x")
    out = rw.set_value(df, "b", F.upper(F.col("a")))
    out = rw.rename(out, "a", "c")
    out = rw.unset(out, "b")
    r = out.collect()[0]
    assert r.asDict() == {"c": "x"}


def test_subst_global_and_first(spark):
    df = _one(spark, text="a1 b2 c3")
    g = rw.subst(df, r"[0-9]", "#").collect()[0].text
    assert g == "a# b# c#"
    one = rw.subst(df, r"[0-9]", "#", global_=False).collect()[0].text
    assert one == "a# b2 c3"
    nomatch = rw.subst(df, r"zz", "#", global_=False).collect()[0].text
    assert nomatch == "a1 b2 c3"


def test_subst_with_groups(spark):
    df = _one(spark, text="user=alice")
    out = rw.subst(df, r"user=(\w+)", "u:$1").collect()[0].text
    assert out == "u:alice"


def test_tags(spark):
    df = spark.createDataFrame([(["a"],)], "tags array<string>")
    out = rw.set_tag(rw.set_tag(df, "b"), "b")  # idempotent
    assert out.collect()[0].tags == ["a", "b"]
    out = rw.clear_tag(out, "a")
    assert out.collect()[0].tags == ["b"]


def test_set_pri_family(spark):
    df = spark.createDataFrame([(5, 1, 13)], "severity int, facility int, pri int")
    r = rw.set_severity(df, 2).collect()[0]
    assert (r.severity, r.pri) == (2, 10)
    r = rw.set_facility(df, 20).collect()[0]
    assert (r.facility, r.pri) == (20, 165)
    r = rw.set_pri(df, 165).collect()[0]
    assert (r.severity, r.facility) == (5, 20)


def test_groupset_glob(spark):
    df = spark.createDataFrame(
        [({"a.x": "1", "a.y": "2", "b.z": "3"},)], "kv map<string,string>"
    )
    out = rw.groupset(df, F.lit("X"), key_glob="a.*").collect()[0].kv
    assert out == {"a.x": "X", "a.y": "X", "b.z": "3"}


def test_groupset_glob_is_lmf_glob(spark):
    # LMF_GLOB: the whole key must match, only * and ? are wildcards
    df = spark.createDataFrame(
        [({"a.x": "1", "za.x": "2", "[a].x": "3", "b.x": "4"},)],
        "kv map<string,string>",
    )
    out = rw.groupset(df, F.lit("X"), key_glob="a.*").collect()[0].kv
    assert out == {"a.x": "X", "za.x": "2", "[a].x": "3", "b.x": "4"}
    out = rw.groupset(df, F.lit("X"), key_glob="[a].?").collect()[0].kv
    assert out == {"a.x": "1", "za.x": "2", "[a].x": "X", "b.x": "4"}


def test_value_pairs_select(spark):
    df = spark.createDataFrame([(1, 2, 3)], "h_a int, h_b int, other int")
    out = rw.value_pairs_select(
        df, ["h_*"], exclude_globs=["h_b"], transforms=[("add-prefix", "p.")]
    )
    assert out.columns == ["p.h_a"]


def test_timezone_rewrites(spark):
    import datetime as dt

    df = spark.createDataFrame([(dt.datetime(2024, 1, 1, 12, 0, 0),)], "ts timestamp")
    # fix-timezone: the wall clock 12:00 was actually UTC+2 -> 10:00 UTC
    r = rw.fix_timezone(df, "ts", "Europe/Budapest").collect()[0].ts
    assert r == dt.datetime(2024, 1, 1, 11, 0, 0)  # CET is +1 in January


def test_string_and_numeric_funcs(spark):
    df = _one(spark, s="  /var/log/app.log  ", n=7)
    ctx = TemplateContext(columns={"s": F.col("s"), "n": F.col("n")})
    stripped = compile_template("$(strip ${s})", ctx)
    r = df.select(
        stripped.alias("stripped"),
        tf.tf_basename(stripped).alias("base"),
        tf.tf_dirname(stripped).alias("dir"),
        tf.tf_uppercase(F.lit("ab")).alias("up"),
        tf.tf_padding(F.lit("7"), 3, "0").alias("pad"),
        compile_template("$(sum ${n} 3)", ctx).cast("int").alias("sum"),
        compile_template("$(average ${n} 3)", ctx).cast("double").alias("avg"),
        tf.tf_sha256(F.lit("abc"), 8).alias("h"),
        tf.tf_md5(F.lit("abc")).alias("m"),
        tf.tf_ipv4_to_int(F.lit("10.0.0.1")).alias("ip"),
    ).collect()[0]
    assert r.stripped == "/var/log/app.log"
    assert r.base == "app.log" and r.dir == "/var/log"
    assert r.up == "AB" and r.pad == "007"
    assert r.sum == 10 and r.avg == 5.0
    assert r.h == "ba7816bf"  # sha256('abc') prefix
    assert r.m == "900150983cd24fb0d6963f7d28e17f72"
    assert r.ip == 10 * 16777216 + 1


def test_list_funcs(spark):
    df = spark.createDataFrame([(["a", "b", "c"],)], "l array<string>")
    ctx = TemplateContext(columns={"l": F.array_join(F.col("l"), ",")})

    def t(template):
        return compile_template(template, ctx)

    r = df.select(
        t("$(list-head ${l})").alias("h"),
        t("$(list-nth 1 ${l})").alias("n1"),
        t("$(list-count ${l})").cast("int").alias("c"),
        t("$(implode , ${l})").alias("joined"),
        t("$(list-search b ${l})").cast("int").alias("idx"),
        F.split(t("$(map $(uppercase $_) ${l})"), ",").alias("mapped"),
        F.split(t("$(filter ('$_' ne 'b') ${l})"), ",").alias("filtered"),
    ).collect()[0]
    assert r.h == "a" and r.n1 == "b" and r.c == 3
    assert r.joined == "a,b,c" and r.idx == 1
    assert r.mapped == ["A", "B", "C"] and r.filtered == ["a", "c"]
    # a 20,000-character quoted element holding commas
    long = spark.createDataFrame([('"' + "q," * 10000 + '",b',)], "s string")
    lctx = TemplateContext(columns={"s": F.col("s")})
    r = long.select(
        compile_template("$(list-count ${s})", lctx).cast("int").alias("c"),
        compile_template("$(list-head ${s})", lctx).alias("h"),
    ).first()
    assert r.c == 2 and r.h == "q," * 10000


def test_format_funcs(spark):
    df = _one(spark, a="x", b="y")
    r = df.select(
        tf.format_welf({"dst": F.col("b"), "src": F.col("a")}).alias("w"),
    ).collect()[0]
    assert r.w == "dst=y src=x"


def test_macros(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2024, 3, 5, 7, 9, 11), 3, 4)],
        "ts timestamp, severity int, facility int",
    )
    r = df.select(
        tf.macro("YEAR", F.col("ts")).alias("y"),
        tf.macro("S_MONTH", F.col("ts")).alias("m"),
        tf.macro("HOUR", F.col("ts")).alias("h"),
        tf.macro("UNIXTIME", F.col("ts")).alias("u"),
        tf.macro("PRI", severity=F.col("severity"), facility=F.col("facility")).alias("pri"),
        tf.macro("SEVERITY", severity=F.col("severity")).alias("sev"),
        tf.macro("FACILITY", facility=F.col("facility")).alias("fac"),
    ).collect()[0]
    assert (r.y, r.m, r.h) == ("2024", "03", "07")
    assert r.pri == "35" and r.sev == "err" and r.fac == "auth"


def test_priority_alias_p_base_and_sdata_macro(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(
            dt.datetime(2024, 3, 5, 7, 9, 11), 3,
            {".SDATA.ex@1.k": "v", ".SDATA.ex@1.k2": "w"},
        )],
        "ts timestamp, severity int, sdata map<string,string>",
    )
    r = df.select(
        # macros.c: PRIORITY is an alias of SEVERITY
        tf.macro("PRIORITY", severity=F.col("severity")).alias("prio"),
        # P_ time base resolves through the shared derived-name set
        tf.macro("P_YEAR", F.col("ts")).alias("py"),
        tf.macro("SDATA", sdata=F.col("sdata")).alias("sd"),
    ).collect()[0]
    assert r.prio == "err"
    assert r.py == "2024"
    assert r.sd == '[ex@1 k="v" k2="w"]'


def test_stardate(spark):
    """modules/stardate/stardate.c: year + truncated elapsed fraction.
    2024-07-01T12:00:00Z is 182.5 days into leap-year 2024 ->
    15768000/31622400 = 0.49863... -> 2024.49 at 2 digits."""
    import datetime as dt

    df = spark.createDataFrame(
        [
            (int(dt.datetime(2024, 7, 1, 12, tzinfo=dt.timezone.utc).timestamp()),),
            (int(dt.datetime(2023, 1, 1, 0, tzinfo=dt.timezone.utc).timestamp()),),
            (int(dt.datetime(2023, 12, 31, 23, 59, 59, tzinfo=dt.timezone.utc).timestamp()),),
        ],
        "u bigint",
    )
    got = [r.s for r in df.select(tf.tf_stardate(F.col("u"), 2).alias("s")).collect()]
    assert got == ["2024.49", "2023.00", "2023.99"]
    g0 = df.select(tf.tf_stardate(F.col("u"), 0).alias("s")).collect()[0].s
    assert g0 == "2024"


def test_format_cef_extension(spark):
    """format-cef-extension.c: sorted keys, '=' and control escaping,
    invalid (non-alnum) keys skipped."""
    df = spark.createDataFrame([("a=b\\c", "line1\nline2", "x")], "v1 string, v2 string, v3 string")
    out = df.select(
        tf.format_cef_extension(
            {"zkey": F.col("v1"), "akey": F.col("v2"), "bad key": F.col("v3")}
        ).alias("ext")
    ).collect()[0].ext
    assert out == "akey=line1\\nline2 zkey=a\\=b\\\\c"
    # map variant: same output from a dynamic NV map incl. \t ->
    m = F.create_map(
        F.lit("zkey"), F.col("v1"), F.lit("akey"), F.col("v2"),
        F.lit("bad key"), F.col("v3"), F.lit("tab"), F.lit("a\tb"),
    )
    out2 = df.select(tf.format_cef_extension_map(m).alias("ext")).collect()[0].ext
    assert out2 == "akey=line1\\nline2 tab=a\\u0009b zkey=a\\=b\\\\c"


def test_format_cim(spark):
    """scl/cim/template.conf: .cim.* shift 5, .* -> _*, keep _*/dotted,
    drop bare names, @timestamp/@message pairs, format-json's
    reverse-lexicographic key order."""
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 2, 3, 4, 5), "hello")], "ts timestamp, msg string"
    )
    pairs = F.create_map(
        F.lit(".cim.action"), F.lit("allow"),
        F.lit(".internal"), F.lit("x"),
        F.lit("_priv"), F.lit("y"),
        F.lit("net.src"), F.lit("1.2.3.4"),
        F.lit("plainkey"), F.lit("dropped"),
    )
    iso = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ssXXX")
    out = df.select(tf.format_cim(pairs, iso, F.col("msg")).alias("j")).collect()[0].j
    assert out == (
        '{"net.src":"1.2.3.4","action":"allow","_priv":"y","_internal":"x",'
        '"@timestamp":"2024-01-02T03:04:05Z","@message":"hello"}'
    )


def test_format_cim_dotted_overrides_plain(spark):
    """Key-collision precedence is by SOURCE, not by value: a renamed
    dotted key ('.collide' -> '_collide') must overwrite a plain
    '_collide' key even when the plain value sorts lexicographically
    later (regression: sorting entries before the last-wins fold let
    the larger VALUE win)."""
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 2, 3, 4, 5), "m")], "ts timestamp, msg string"
    )
    pairs = F.create_map(
        # plain value 'zzz' sorts AFTER dotted value 'aaa'
        F.lit("_collide"), F.lit("zzz"),
        F.lit(".collide"), F.lit("aaa"),
    )
    iso = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ssXXX")
    out = df.select(tf.format_cim(pairs, iso, F.col("msg")).alias("j")).collect()[0].j
    assert out == (
        '{"_collide":"aaa","@timestamp":"2024-01-02T03:04:05Z",'
        '"@message":"m"}'
    )


def test_header_identity_macros(spark):
    """MSGHDR/TAG/BSDTAG/network macros (macros.c:207-230, 514-714):
    pid-less and program-less MSGHDR, PEERIP/PEERPORT fallthrough to
    the source address, IP_PROTO family detection incl. v4-mapped."""
    df = spark.createDataFrame(
        [
            ("sshd", "1042", 5, 4, "10.0.0.9", 514, None, None, 6),
            ("cron", "", 3, 9, "fe80::1", 6514, "192.0.2.7", 9999, 17),
            ("", "77", 7, 0, None, None, None, None, None),
            ("app", None, 0, 23, "::ffff:10.1.2.3", 33, None, None, 99),
        ],
        "program string, pid string, severity int, facility int, "
        "saddr string, sport int, peerip string, peerport int, proto int",
    )
    cols = {c: F.col(c) for c in df.columns}
    r = df.select(
        tf.macro("MSGHDR", **cols).alias("hdr"),
        tf.macro("TAG", **cols).alias("tag"),
        tf.macro("BSDTAG", **cols).alias("bsd"),
        tf.macro("SOURCEIP", **cols).alias("sip"),
        tf.macro("SOURCEPORT", **cols).alias("sport_m"),
        tf.macro("PEERIP", **cols).alias("pip"),
        tf.macro("PEERPORT", **cols).alias("pport"),
        tf.macro("IP_PROTO", **cols).alias("ipp"),
        tf.macro("PROTO_NAME", **cols).alias("pname"),
    ).collect()
    assert [x.hdr for x in r] == ["sshd[1042]: ", "cron: ", "", "app: "]
    # TAG = pri as 2-digit lowercase hex; BSDTAG = sev digit + 'A'+fac
    assert (r[0].tag, r[0].bsd) == ("25", "5E")  # pri 4*8+5=37=0x25
    assert (r[2].tag, r[2].bsd) == ("07", "7A")
    assert [x.sip for x in r] == ["10.0.0.9", "fe80::1", "127.0.0.1", "::ffff:10.1.2.3"]
    assert [x.pip for x in r] == ["10.0.0.9", "192.0.2.7", "127.0.0.1", "::ffff:10.1.2.3"]
    assert [x.pport for x in r] == ["514", "9999", "0", "33"]
    assert [x.sport_m for x in r] == ["514", "6514", "0", "33"]
    assert [x.ipp for x in r] == ["4", "6", "0", "4"]
    assert [x.pname for x in r] == ["tcp", "udp", "unknown", "unknown"]


def test_processed_time_base_and_rawmsg(spark):
    """P_* uses processed -> now -> recvd fallback; RAWMSG_SIZE is the
    octet length of the bound raw line; WEEK_DAY is Sunday=1."""
    import datetime as dt

    from axosyslog_spark.functions.template_compiler import (
        TemplateContext,
        compile_template,
    )

    df = spark.createDataFrame(
        [(dt.datetime(2024, 3, 5, 7, 0, 0), dt.datetime(2024, 3, 6, 8, 0, 0), "héllo")],
        "sts timestamp, rts timestamp, raw string",
    )
    ctx = TemplateContext(
        columns={"RAWMSG": F.col("raw")},
        stamp=F.col("sts"),
        recvd=F.col("rts"),
    )
    r = df.select(
        compile_template("${P_DAY} ${P_HOUR} ${RAWMSG_SIZE} ${S_WEEK_DAY} ${R_WEEK_DAY}", ctx).alias("v")
    ).collect()[0]
    # processed/now unset -> P_* falls back to recvd; é is 2 octets
    assert r.v == "06 08 6 3 4"
    ctx2 = TemplateContext(
        stamp=F.col("sts"), recvd=F.col("rts"), processed=F.col("sts")
    )
    r2 = df.select(compile_template("${P_DAY}", ctx2).alias("v")).collect()[0]
    assert r2.v == "05"


def test_value_pairs_transforms(spark):
    """rekey transform chain (lib/value-pairs/transforms.c)."""
    from axosyslog_spark.operators.rewrite import (
        apply_key_transforms,
        value_pairs_rekey_map,
        value_pairs_select,
    )

    # plan-time string transforms
    assert apply_key_transforms(".SDATA.meta.seq", [("shift-levels", 2)]) == "meta.seq"
    assert apply_key_transforms(".SDATA.meta.seq", [("shift", 7)]) == "meta.seq"
    assert (
        apply_key_transforms(".cee.foo", [("replace-prefix", ".cee.", ".json.")])
        == ".json.foo"
    )
    assert apply_key_transforms("k", [("replace-prefix", "x.", "y.")]) == "k"
    assert apply_key_transforms("aB", [("upper",)]) == "AB"
    assert apply_key_transforms("aB", [("lower",), ("add-prefix", "p.")]) == "p.ab"

    df = spark.createDataFrame([(1, 2, 3)], "host int, hx int, other int")
    out = value_pairs_select(
        df, include_globs=["h*"], transforms=[("add-prefix", "vp."), ("upper",)]
    )
    assert sorted(out.columns) == ["VP.HOST", "VP.HX"]

    # runtime map-key transforms
    m = spark.createDataFrame([(1,)], "id int").select(
        F.create_map(
            F.lit(".SDATA.a.b"), F.lit("1"), F.lit(".cee.k"), F.lit("2")
        ).alias("m")
    )
    [row] = m.select(
        value_pairs_rekey_map(
            F.col("m"), [("replace-prefix", ".cee.", ".json."), ("upper",)]
        ).alias("m")
    ).collect()
    assert row["m"] == {".SDATA.A.B": "1", ".JSON.K": "2"}


def test_extended_date_macros(spark):
    from axosyslog_spark.functions.templates import macro

    df = spark.createDataFrame([("2024-03-05 14:07:08",)], "s string").select(
        F.to_timestamp("s").alias("ts")
    )
    got = df.select(
        macro("HOUR12", F.col("ts")).alias("h12"),
        macro("AMPM", F.col("ts")).alias("ampm"),
        macro("YEAR_DAY", F.col("ts")).alias("doy"),
        macro("USEC", F.col("ts")).alias("usec"),
        macro("ISOWEEK", F.col("ts")).alias("isoweek"),
        macro("WEEK", F.col("ts")).alias("week"),
    ).collect()[0]
    assert got["h12"] == "02" and got["ampm"] == "PM"
    assert got["doy"] == "065" and got["usec"] == "0"
    assert got["isoweek"] == "10"
    # 2024-03-05 is a Tuesday; macros.c (yday-(wday-1+7)%7+7)/7 with 0-based
    # yday=64, Monday-based wday offset 1 => floor((64-1+7)/7)=10
    assert got["week"] == "10"


def test_binary_template_function(spark):
    # basicfuncs tests (test_basicfuncs.c:244-251): compile-time
    # constant from dec/hex/oct bytes; errors mirror the reference
    import pytest as _pytest

    from axosyslog_spark.functions.template_compiler import (
        TemplateContext,
        TemplateError,
        compile_template,
    )

    ctx = TemplateContext()
    df = spark.range(1)

    def render(t):
        return df.select(compile_template(t, ctx).alias("r")).first()["r"]

    assert render("$(binary 1)") == "\x01"
    assert render("$(binary 1 0x1)") == "\x01\x01"
    assert render("$(binary 0xFF 255 0377)") == "\xff\xff\xff"
    assert render("x$(binary 0x2D 0x62 0x2D)y") == "x-b-y"
    with _pytest.raises(TemplateError, match="Incorrect parameters"):
        compile_template("$(binary)", ctx)
    with _pytest.raises(TemplateError, match="unable to parse abc"):
        compile_template("$(binary abc)", ctx)
    with _pytest.raises(TemplateError, match="above 255"):
        compile_template("$(binary 256)", ctx)
    with _pytest.raises(TemplateError, match="unable to parse 08"):
        compile_template("$(binary 08)", ctx)


def test_format_flat_json_reverse_key_order(spark):
    # format-json.c:459 tf_flat_value_pairs_sort is strcmp(s2, s1):
    # flat dotted keys, REVERSE lexicographic pair order
    df = spark.createDataFrame([("v1", "v2", "v3")], "a string, z string, m string")
    out = df.select(
        tf.format_json(
            {"a.key": F.col("a"), "z.key": F.col("z"), "m.key": F.col("m")}, flat=True
        ).alias("j")
    ).first()["j"]
    assert out == '{"z.key":"v2","m.key":"v3","a.key":"v1"}'


def test_map_value_pairs_equals_column_copies(spark):
    df = spark.createDataFrame([("x", 1), ("y", None)], "a string, b int")
    out = rw.map_value_pairs(df, {"a": "a2", "b": "b2"})
    want = df.select("*", F.col("a").alias("a2"), F.col("b").alias("b2"))
    assert out.columns == want.columns
    assert out.collect() == want.collect()


def test_one_encoder_per_wire_format(spark):
    """Each wire format has one encoder, so every producer of it
    agrees: each JSON object, from $(format-json), an SCL destination
    body or format_cim, lists its keys in reverse-lexicographic order
    at every level (format-json.c:459, strcmp(s2, s1)) on the raw
    string; $(format-cef-extension), FilterX format_cef() and
    format_leef() escape an extension value alike; format_xml() and
    format_windows_eventlog_xml() render a non-EventData key alike."""
    import datetime as dt
    import json

    from axosyslog_spark.functions.filterx_lang import compile_filterx
    from axosyslog_spark.operators import scl

    df = spark.createDataFrame(
        [(dt.datetime(2024, 6, 15, 10, 11, 5), "h1", "app", "9", 3, "msg", "v")],
        "ts timestamp, host string, prog string, pid string, sev int,"
        " msg string, v string",
    )
    ts, host, prog, pid, msg = (F.col(c) for c in ("ts", "host", "prog", "pid", "msg"))
    nv = F.create_map(*[F.lit(x) for x in ("akey", "1", "zkey", "2", "mkey", "3")])
    ctx = TemplateContext(columns={"A": host, "B": prog})
    producers = {
        "format-json": compile_template(
            "$(format-json b=${B} a=${A} c.y=${A} c.x=${B} d=x)", ctx
        ),
        "format-flat-json": compile_template("$(format-flat-json c.x=${B} a=${A})", ctx),
        "splunk": scl.splunk_hec_event(
            msg, host, ts, index=F.lit("main"), source="src",
            fields=F.create_map(F.lit("env"), F.lit("prod"), F.lit("zone"), F.lit("b")),
        ),
        "elasticsearch": F.substring_index(
            scl.elasticsearch_datastream_body(ts, host, prog, pid, msg), "\n", -1
        ),
        "slack": scl.slack_attachment_body(msg, host, prog, pid, F.col("sev"), ts),
        "discord": scl.discord_body(msg, username="u", avatar_url="a"),
        "logscale": scl.logscale_event_body(msg, ts, host, prog, pid, timezone="UTC"),
        "pubsub": scl.google_pubsub_event(msg, nv),
        "sumologic": scl.sumologic_http_body(nv),
        "format_cim": tf.format_cim(
            F.create_map(F.lit(".cim.a"), F.lit("1"), F.lit("_b"), F.lit("2")), host, msg
        ),
    }
    row = df.select(*[c.alias(n) for n, c in producers.items()]).first()
    for name in producers:
        levels = []
        json.loads(
            row[name], object_pairs_hook=lambda p: levels.append([k for k, _ in p]) or dict(p)
        )
        assert len(levels[-1]) > 1, name
        for keys in levels:
            assert keys == sorted(keys, reverse=True), (name, row[name])
    assert json.loads(row["format-json"])["c"] == {"y": "h1", "x": "app"}

    vals = ["a=b", "c\\d", "l1\nl2", "r1\rr2", "t1\tt2"]
    ext = {
        "a=b": "a\\=b", "c\\d": "c\\\\d", "l1\nl2": "l1\\nl2",
        "r1\rr2": "r1\\rr2", "t1\tt2": "t1\\u0009t2",
    }
    maps = spark.createDataFrame(
        [(v, {"k": v, "z": v.replace("=", "<")}) for v in vals],
        "v string, m map<string,string>",
    )
    blk = compile_filterx(
        "$cef = format_cef($m); $leef = format_leef($m);"
        "$xml = format_xml($m); $win = format_windows_eventlog_xml($m);",
        known_fields=maps.columns,
    )
    out = blk.apply(maps).withColumn("tpl", tf.format_cef_extension_map(F.col("m")))
    for r in out.collect():
        entries = set(r.tpl.split(" "))
        assert f"k={ext[r.v]}" in entries and len(entries) == 2
        assert set(r.cef.split("|", 7)[7].split(" ")) == entries
        assert set(r.leef.split("|", 5)[5].split("\t")) == entries
        assert r.xml == r.win
        if r.v == "a=b":
            assert "<k>a=b</k>" in r.xml and "<z>a&lt;b</z>" in r.xml
