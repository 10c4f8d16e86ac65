"""Template-string compiler tests.

Tokenizer cases ported from lib/template/tests/test_template_compile.c;
rendering cases check golden output strings on tiny frames.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from axosyslog_spark.functions.template_compiler import (
    FuncCall,
    Lit,
    TemplateContext,
    TemplateError,
    ValueRef,
    compile_template,
    is_trivial,
    tokenize,
)


# ---------------------------------------------------------------------------
# tokenizer (no Spark needed)
# ---------------------------------------------------------------------------


def test_tokenize_literal():
    assert tokenize("plain text") == [Lit("plain text")]


def test_tokenize_braced_and_unbraced():
    assert tokenize("${HOST}") == [ValueRef("HOST")]
    assert tokenize("$HOST") == [ValueRef("HOST")]
    assert tokenize("$HOST test value") == [ValueRef("HOST"), Lit(" test value")]
    assert tokenize("${HOST}test value") == [ValueRef("HOST"), Lit("test value")]


def test_tokenize_default_value():
    assert tokenize("${MSGHDR:-default value}") == [
        ValueRef("MSGHDR", "default value")
    ]
    assert tokenize("${MSGHDR:-}") == [ValueRef("MSGHDR", "")]


def test_tokenize_unknown_substitution_is_error():
    with pytest.raises(TemplateError):
        tokenize("${MSGHDR:1}")
    with pytest.raises(TemplateError):
        tokenize("${MSGHDR")


def test_tokenize_msg_ref():
    assert tokenize("${MSGHDR}@0") == [ValueRef("MSGHDR", None, 1)]
    assert tokenize("${MSGHDR}@1") == [ValueRef("MSGHDR", None, 2)]
    # non-numeric @ is a literal
    assert tokenize("${MSGHDR}@gmail.com") == [
        ValueRef("MSGHDR"),
        Lit("@gmail.com"),
    ]
    # @@ collapses to one literal @
    assert tokenize("${MSGHDR}@@12") == [ValueRef("MSGHDR"), Lit("@12")]


def test_tokenize_dollar_escapes():
    assert tokenize("$$VALUE_NAME") == [Lit("$VALUE_NAME")]
    assert tokenize("$${VALUE_NAME}") == [Lit("${VALUE_NAME}")]
    assert tokenize("$:VALUE_NAME") == [Lit("$:VALUE_NAME")]
    assert tokenize("$") == [Lit("$")]


def test_tokenize_empty_braced_name():
    assert tokenize("${}") == [ValueRef("")]


def test_tokenize_backslash_in_braces_taken_literally():
    assert tokenize("${VALUE\\}NAME}") == [ValueRef("VALUE\\"), Lit("NAME}")]


def test_tokenize_function():
    assert tokenize("$(hello)") == [FuncCall(("hello",))]
    assert tokenize("$(hello)test value") == [FuncCall(("hello",)), Lit("test value")]
    # quotes inside the name token merge (test_qouted_string_in_name)
    assert tokenize('$(he"ll"o)') == [FuncCall(("hello",))]


def test_tokenize_function_args_quoting_and_nesting():
    [fn] = tokenize(
        "$( hello \\tes\t\t\t value(xyz) \"value with spaces\" 'test value with spa\"ces')@2"
    )
    assert fn == FuncCall(
        ("hello", "tes", "value(xyz)", "value with spaces", 'test value with spa"ces'),
        3,
    )


def test_tokenize_function_errors():
    with pytest.raises(TemplateError):
        tokenize("$(hello value(xyz)")  # imbalanced
    with pytest.raises(TemplateError):
        tokenize('$(hello "unclosed quote)')


def test_is_trivial():
    assert is_trivial("${HOST}")
    assert is_trivial("$1")
    assert not is_trivial("${HOST} x")
    assert not is_trivial("$(echo a)")


# ---------------------------------------------------------------------------
# rendering (Spark)
# ---------------------------------------------------------------------------


@pytest.fixture()
def frame(spark):
    return spark.createDataFrame(
        [
            ("h1", "app", "hello world", 3, 2, "2024-03-05 06:07:08"),
            ("h2", "db", "x=1 y=2", 6, 1, "2024-12-31 23:59:59"),
        ],
        "host string, appname string, body string, severity int, facility int, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s"))


def _ctx(extra=None):
    cols = {
        "HOST": F.col("host"),
        "PROGRAM": F.col("appname"),
        "MSG": F.col("body"),
        "SEVERITY_NUM": F.col("severity"),
        "FACILITY_NUM": F.col("facility"),
    }
    cols.update(extra or {})
    return TemplateContext(columns=cols, stamp=F.col("ts"), recvd=F.col("ts"))


def _render(frame, template, ctx=None):
    return [
        r[0]
        for r in frame.select(
            compile_template(template, ctx or _ctx()).alias("out")
        ).orderBy("host").collect()
    ]


def test_render_values_and_literals(frame):
    assert _render(frame, "host=${HOST} prog=$PROGRAM!") == [
        "host=h1 prog=app!",
        "host=h2 prog=db!",
    ]


def test_render_default_value(frame):
    assert _render(frame, "${NOPE:-fallback}") == ["fallback", "fallback"]
    assert _render(frame, "${NOPE}") == ["", ""]


def test_render_date_macros(frame):
    assert _render(frame, "${YEAR}-${MONTH} ${HOUR}:${MIN}:${SEC}") == [
        "2024-03 06:07:08",
        "2024-12 23:59:59",
    ]
    assert _render(frame, "$S_UNIXTIME") == ["1709618828", "1735689599"]


def test_render_pri_macros(frame):
    assert _render(frame, "<${PRI}> ${SEVERITY}/${FACILITY}") == [
        "<19> err/mail",
        "<14> info/user",
    ]


def test_render_string_funcs(frame):
    assert _render(frame, "$(length ${MSG})") == ["11", "7"]
    assert _render(frame, "$(substr ${MSG} 0 5)") == ["hello", "x=1 y"]
    assert _render(frame, "$(substr ${MSG} -5)") == ["world", "1 y=2"]
    assert _render(frame, "$(uppercase ${HOST})") == ["H1", "H2"]
    assert _render(frame, "$(padding ${HOST} 5 0)") == ["000h1", "000h2"]


def test_render_crypto_funcs(frame):
    import hashlib

    exp = [
        hashlib.sha256(b"hello world").hexdigest()[:8],
        hashlib.sha256(b"x=1 y=2").hexdigest()[:8],
    ]
    assert _render(frame, "$(sha256 --length 8 ${MSG})") == exp
    assert _render(frame, "$(md5 ${HOST})") == [
        hashlib.md5(b"h1").hexdigest(),
        hashlib.md5(b"h2").hexdigest(),
    ]
    # $(sha512) and the -l short form (cryptofuncs.c option table)
    assert _render(frame, "$(sha512 ${HOST})") == [
        hashlib.sha512(b"h1").hexdigest(),
        hashlib.sha512(b"h2").hexdigest(),
    ]
    assert _render(frame, "$(sha512 -l 12 ${HOST})") == [
        hashlib.sha512(b"h1").hexdigest()[:12],
        hashlib.sha512(b"h2").hexdigest()[:12],
    ]


def test_render_arithmetic(frame):
    assert _render(frame, "$(+ ${SEVERITY_NUM} 10)") == ["13", "16"]
    assert _render(frame, "$(* ${SEVERITY_NUM} ${FACILITY_NUM})") == ["6", "6"]
    assert _render(frame, "$(/ 7 2)") == ["3", "3"]
    assert _render(frame, "$(% 7 2)") == ["1", "1"]
    assert _render(frame, "$(+ ${HOST} 1)") == ["NaN", "NaN"]
    # gint64 overflow renders NaN instead of aborting the job, and
    # integer division stays exact past 2^53
    for t, want in (
        ("$(+ 9223372036854775807 1)", "NaN"),
        ("$(- -9223372036854775808 1)", "NaN"),
        ("$(* 9223372036854775807 2)", "NaN"),
        ("$(/ -9223372036854775808 -1)", "NaN"),
        ("$(+ 9223372036854775806 1)", "9223372036854775807"),
        ("$(/ 9007199254740993 1)", "9007199254740993"),
        ("$(/ 9223372036854775807 2)", "4611686018427387903"),
        ("$(/ -7 2)", "-3"),
    ):
        assert _render(frame, t) == [want, want], t


def test_render_if_and_or(frame):
    got = _render(frame, '$(if ("${HOST}" == "h1") "first" "other")')
    assert got == ["first", "other"]
    assert _render(frame, "$(or ${NOPE} ${HOST})") == ["h1", "h2"]


def test_render_list_funcs(frame):
    assert _render(frame, "$(list-head a,b,c)") == ["a", "a"]
    assert _render(frame, "$(list-nth 1 a,b,c)") == ["b", "b"]
    assert _render(frame, "$(list-count a,b,c)") == ["3", "3"]
    assert _render(frame, "$(implode - a,b,c)") == ["a-b-c", "a-b-c"]


def test_render_format_date(frame):
    assert _render(frame, "$(format-date %Y/%m/%d)") == ["2024/03/05", "2024/12/31"]
    # '[' ']' are literal text, not Spark's optional-section marks
    assert _render(frame, "$(format-date [%H])") == ["[06]", "[23]"]


def test_render_format_welf(frame):
    assert _render(frame, "$(format-welf h=${HOST} s=${SEVERITY_NUM})") == [
        "h=h1 s=3",
        "h=h2 s=6",
    ]


def test_render_matches(frame):
    ctx = _ctx()
    ctx.matches = F.array(F.lit("whole"), F.lit("g1"), F.lit("g2"))
    assert _render(frame, "m=$1+$2 all=$0", ctx) == ["m=g1+g2 all=whole"] * 2


def test_render_dollar_dollar(frame):
    assert _render(frame, "$$HOST is ${HOST}") == ["$HOST is h1", "$HOST is h2"]


def test_unknown_function_raises(frame):
    with pytest.raises(TemplateError):
        compile_template("$(unknown function)", _ctx())


def test_misc_funcs(frame):
    assert _render(frame, "$(indent-multi-line x)") == ["x", "x"]
    # tf-template.c dynamic binding: the arg's RESULT is looked up as a
    # template NAME; with an empty registry and no fallback -> empty
    got = _render(frame, '$(template "${HOST}!")')
    assert got == ["", ""]
    import os

    os.environ["AXOSPARK_TEST_ENV"] = "yes"
    assert _render(frame, "$(env AXOSPARK_TEST_ENV)") == ["yes", "yes"]


def test_tag_and_tags_head_funcs(spark, frame):
    # tf-tag.c: $(tag) boolean form + custom values; $(tags-head)
    # returns the first listed tag the message carries
    f = frame.withColumn(
        "tags",
        F.when(F.col("severity") <= 3, F.array(F.lit("err"), F.lit("alertable")))
        .otherwise(F.array(F.lit("info"))),
    )
    ctx = _ctx({"TAGS": F.col("tags")})
    out = _render(f, "$(tag err):$(tag err yes no):$(tags-head missing alertable info)", ctx)
    for severity, got in zip([r["severity"] for r in f.collect()], out):
        if severity <= 3:
            assert got == "1:yes:alertable"
        else:
            assert got == "0:no:info"


# ---------------------------------------------------------------------------
# context funcs: $(context-length) / $(context-values) / $(grep) /
# $(context-lookup) over a bound context-entries array
# ---------------------------------------------------------------------------


def _ctx_frame(spark):
    df = spark.createDataFrame(
        [
            (
                [
                    ("bash", "run ls", "2024-01-01 00:00:01"),
                    ("edit", "open, then save", "2024-01-01 00:00:02"),
                    ("bash", "it's done", "2024-01-01 00:00:03"),
                ],
            )
        ],
        "entries array<struct<tool:string,text:string,ts_s:string>>",
    )
    ctx = TemplateContext(
        context_entries=F.col("entries"),
        context_entry_fields=("tool", "text", "ts_s"),
    )
    return df, ctx


def test_context_length_and_values(spark):
    df, ctx = _ctx_frame(spark)
    row = df.select(
        compile_template("$(context-length)", ctx).alias("n"),
        compile_template("$(context-values ${tool})", ctx).alias("tools"),
        compile_template("$(context-values ${text})", ctx).alias("texts"),
    ).collect()[0]
    assert row["n"] == "3"
    assert row["tools"] == "bash,edit,bash"
    # list encoding: spaces force double quotes; an apostrophe element
    # is double-quoted; a comma-bearing element is quoted too
    assert row["texts"] == '"run ls","open, then save","it\'s done"'


def test_grep_and_context_lookup(spark):
    df, ctx = _ctx_frame(spark)
    row = df.select(
        compile_template(
            "$(grep ('${tool}' eq 'bash') ${text})", ctx
        ).alias("g"),
        compile_template(
            "$(grep --max-count 1 ('${tool}' eq 'bash') ${text})", ctx
        ).alias("g1"),
        compile_template(
            "$(context-lookup ('${tool}' ne 'bash') ${tool} ${text})", ctx
        ).alias("lk"),
        compile_template(
            "$(grep ('${tool}' eq 'nope') ${text})", ctx
        ).alias("none"),
    ).collect()[0]
    assert row["g"] == '"run ls","it\'s done"'
    assert row["g1"] == '"run ls"'
    # per matching message, ALL value templates are emitted in order
    assert row["lk"] == 'edit,"open, then save"'
    assert row["none"] == ""


def test_context_funcs_require_context():
    ctx = TemplateContext()
    with pytest.raises(TemplateError):
        compile_template("$(grep ('a' eq 'a') $x)", ctx)
    with pytest.raises(TemplateError):
        compile_template("$(context-values $x)", ctx)


# ---------------------------------------------------------------------------
# $(env), $(template), $(dns-resolve-ip)
# ---------------------------------------------------------------------------


def test_env_func(spark, monkeypatch):
    monkeypatch.setenv("AXO_T_A", "alpha")
    monkeypatch.delenv("AXO_T_B", raising=False)
    ctx = TemplateContext()
    df = spark.range(1)
    row = df.select(
        compile_template("$(env AXO_T_A)", ctx).alias("a"),
        compile_template("$(env AXO_T_B)", ctx).alias("b"),
        # tf_env quirk: present non-last arg keeps its trailing space
        compile_template("$(env AXO_T_A AXO_T_B)", ctx).alias("ab"),
    ).collect()[0]
    assert row["a"] == "alpha"
    assert row["b"] == ""
    assert row["ab"] == "alpha "


def test_template_func_static_dynamic(spark):
    ctx = TemplateContext(
        columns={"HOST": F.lit("h1"), "which": F.col("which")},
        templates={"short": "${HOST}", "long": "host=${HOST}"},
    )
    df = spark.createDataFrame([("short",), ("long",), ("nope",)],
                               "which string")
    rows = df.select(
        compile_template("$(template long)", ctx).alias("static"),
        compile_template("$(template ${which})", ctx).alias("dyn"),
        compile_template("$(template ${which} fallback)", ctx).alias("dynfb"),
    ).collect()
    assert all(r["static"] == "host=h1" for r in rows)
    assert [r["dyn"] for r in rows] == ["h1", "host=h1", ""]
    assert [r["dynfb"] for r in rows] == ["h1", "host=h1", "fallback"]
    with pytest.raises(TemplateError):
        compile_template("$(template missing-name)", ctx)


def test_dns_resolve_ip(spark):
    ctx = TemplateContext(
        columns={"ip": F.col("ip")},
        dns_hosts={"10.0.0.1": "gw.example.com", "::1": "localhost6"},
    )
    df = spark.createDataFrame(
        [("10.0.0.1",), ("10.9.9.9",), ("::1",), ("not-an-ip",)],
        "ip string",
    )
    got = [
        r["h"]
        for r in df.select(
            compile_template("$(dns-resolve-ip ${ip})", ctx).alias("h")
        ).collect()
    ]
    # mapped -> hostname; unmapped valid IP -> itself; invalid -> empty
    assert got == ["gw.example.com", "10.9.9.9", "localhost6", ""]


def test_values_and_names_funcs(frame):
    # vp-funcs.c $(values)/$(names): encoded comma lists over the
    # bound macro frame, sorted by name; scopes match our schema names
    got = _render(frame, "$(names --key HOST --key PROGRAM)")
    assert got == ["HOST,PROGRAM", "HOST,PROGRAM"]
    # values appear in sorted-NAME order: HOST then PROGRAM
    got = _render(frame, "$(values --key HOST --key PROGRAM)")
    assert got == ["h1,app", "h2,db"]
    got = _render(frame, "$(values --key H*)")
    assert got == ["h1", "h2"]
    # exclude wins; elements with spaces get quoted per str-repr
    got = _render(frame, "$(values --key * --exclude SEVERITY_NUM "
                         "--exclude FACILITY_NUM --exclude PROGRAM "
                         "--exclude HOST)")
    assert got == ['"hello world"', '"x=1 y=2"']


_VP_CTX = {
    "HOST": "h1", "PROGRAM": "app", "MSG": "hello", "PID": "42",
    "PRI": "13", "SEVERITY": "5", "test.key1": "v1", "test.key2": "v2",
}


@pytest.mark.parametrize(
    "options",
    [
        "--key HOST,PROGRAM",
        "--key HOST --key PROGRAM",
        "--key * --exclude MSG,PID,test.*",
        "--scope rfc5424,selected-macros",
        "--key test.* --add-prefix x.",
        "--key test.* --replace-prefix test=t",
        "--key test.* --shift 2",
        "--key test.* --shift-levels 1",
        "--key test.* --upper",
        "--key HOST --lower",
    ],
)
def test_value_pairs_options_agree_across_functions(frame, options):
    """$(names), $(values), $(format-flat-json) and $(format-welf) parse
    one value-pairs option list the same way (vp-funcs.c, format-json.c,
    format-welf.c all call value_pairs_new_from_cmdline)."""
    import json

    ctx = TemplateContext(columns={k: F.lit(v) for k, v in _VP_CTX.items()})
    names = _render(frame, f"$(names {options})", ctx)[0].split(",")
    values = _render(frame, f"$(values {options})", ctx)[0].split(",")
    flat = json.loads(_render(frame, f"$(format-flat-json {options})", ctx)[0])
    welf = dict(
        kv.split("=", 1)
        for kv in _render(frame, f"$(format-welf {options})", ctx)[0].split(" ")
    )
    assert names != [""]
    assert sorted(names) == sorted(flat) == sorted(welf)
    assert values == [flat[n] for n in names] == [welf[n] for n in names]


def test_value_pairs_unknown_scope_or_missing_value_raises(frame):
    for func in ("format-json", "format-flat-json", "format-welf", "values", "names"):
        with pytest.raises(ValueError, match="known: rfc3164"):
            _render(frame, f"$({func} --scope nv-pairs)")
    with pytest.raises(ValueError, match="--key needs a value"):
        _render(frame, "$(names --key)")


def test_format_json_scope_none_renders_only_explicit_pairs(frame):
    # scope none selects no column; the reference's splunk HEC body
    # (ported as scl.splunk_hec_event) is written with it
    assert _render(frame, "$(format-json --scope none a=b)") == ['{"a":"b"}'] * 2


def test_numeric_results_beyond_bigint_render_as_doubles(frame):
    # only whole values inside the bigint range take the integer form;
    # ceil/floor no longer saturate at ±2^63
    cases = {
        "$(sum 1e30 1)": "1.0E30",
        "$(max 1e30 2)": "1.0E30",
        "$(round 1e30)": "1.0E30",
        "$(round 1e37 2)": "1.0E37",
        "$(round 1e19 20)": "1.0E19",
        "$(round 2 3)": "2.000",
        "$(* 1e20 1e20)": "1.0E40",
        "$(average 1e300 1e300)": "1.0E300",
        "$(ceil 1e30)": "1.0E30",
        "$(floor -1e30)": "-1.0E30",
        "$(ceil 2.5)": "3",
        "$(floor -2.5)": "-3",
        "$(sum 1.5 2.5)": "4",
    }
    for template, expected in cases.items():
        assert _render(frame, template) == [expected] * 2, template


def test_msg_ref_context_addressing(spark):
    """eval.c msg_ref: @0 addresses the NEWEST context message, @1 one
    older; out-of-range expands to empty without evaluating."""
    df, ctx = _ctx_frame(spark)
    row = df.select(
        compile_template("${tool}@0", ctx).alias("newest"),
        compile_template("${tool}@1", ctx).alias("older"),
        compile_template("${tool}@2", ctx).alias("oldest"),
        compile_template("${tool}@9", ctx).alias("oor"),
        compile_template("${nope}@0", ctx).alias("unknown"),
    ).collect()[0]
    assert row["newest"] == "bash"   # ts 00:00:03 entry
    assert row["older"] == "edit"
    assert row["oldest"] == "bash"   # ts 00:00:01 entry
    assert row["oor"] == ""
    assert row["unknown"] == ""


def test_format_json_value_pairs_selection(spark):
    """The reference functional value-pairs goldens: glob selection,
    rekey transforms, and NESTED dotted-key rendering with
    reverse-lexicographic pair order at each level."""
    df = spark.createDataFrame([(0, "value1", "value2", "msg")],
                               "id int, v1 string, v2 string, m string")
    ctx = TemplateContext(columns={
        "test.key1": F.col("v1"),
        "test.key2": F.col("v2"),
        "MESSAGE": F.col("m"),
    })

    def render(t):
        return df.select(compile_template(t, ctx).alias("o")).first()["o"]

    assert render("$(format-json test.*)") == (
        r'{"test":{"key2":"value2","key1":"value1"}}'
    )
    assert render("$(format-json test.* --add-prefix foo.)") == (
        r'{"foo":{"test":{"key2":"value2","key1":"value1"}}}'
    )
    assert render("$(format-json test.* --replace-prefix test=foobar)") == (
        r'{"foobar":{"key2":"value2","key1":"value1"}}'
    )
    assert render("$(format-json test.* --shift-levels 1)") == (
        r'{"key2":"value2","key1":"value1"}'
    )
    assert render("$(format-json test.* --shift 2)") == (
        r'{"st":{"key2":"value2","key1":"value1"}}'
    )
    assert render("$(format-json test.* --upper)") == (
        r'{"TEST":{"KEY2":"value2","KEY1":"value1"}}'
    )
    assert render("$(format-json MESSAGE --lower)") == r'{"message":"msg"}'
    # k=v pairs still compose alongside selection
    assert render("$(format-json test.* extra=${MESSAGE})") == (
        r'{"test":{"key2":"value2","key1":"value1"},"extra":"msg"}'
    )


def test_render_md4(frame):
    # RFC 1320 vectors via the template path (pure-Python MD4 —
    # OpenSSL 3 dropped the legacy digest, see functions/md4.py)
    from axosyslog_spark.functions.md4 import md4_hex

    assert md4_hex(b"abc") == "a448017aaf21d8525fc10ae87aa6729d"
    assert _render(frame, "$(md4 ${HOST})") == [
        md4_hex(b"h1"), md4_hex(b"h2"),
    ]
    assert _render(frame, "$(md4 -l 8 ${HOST})") == [
        md4_hex(b"h1")[:8], md4_hex(b"h2")[:8],
    ]


def test_operator_shaped_funcs_point_to_operators(frame):
    # $(slog)/$(geoip2) exist in the reference as template functions
    # but are operator-shaped here; the error must say where to go
    with pytest.raises(TemplateError, match="slog.seal"):
        _render(frame, "$(slog ${MSG})")
    with pytest.raises(TemplateError, match="enrich.geoip2"):
        _render(frame, "$(geoip2 ${HOST})")


def test_format_json_name_that_prefixes_another_is_an_error():
    """``a`` and ``a.b`` cannot both nest: either order is the same
    plan-time TemplateError naming both keys."""
    for tpl in ("$(format-json a=${HOST} a.b=${HOST})",
                "$(format-json a.b=${HOST} a=${HOST})"):
        with pytest.raises(TemplateError, match=r"'a' is both a value and the object of 'a\.b'"):
            compile_template(tpl, _ctx())
    # format-flat-json never nests, so the pair is fine there
    compile_template("$(format-flat-json a=${HOST} a.b=${HOST})", _ctx())


def test_format_welf_key_exclude_table(frame):
    """The key_and_exclude table from test_format_welf.c plus the
    quoted-space case — welf gains the full value-pairs selection."""
    ctx = _ctx({
        "prefix.key1": F.lit("value1"),
        "prefix.key2": F.lit("value2"),
        "prefix.exclude1": F.lit("exclude1"),
        "prefix.exclude2": F.lit("exclude2"),
        "with_space": F.lit("with space"),
    })
    cases = [
        ("$(format-welf --key prefix.key*)",
         "prefix.key1=value1 prefix.key2=value2"),
        ("$(format-welf --key prefix.key1,prefix.key2)",
         "prefix.key1=value1 prefix.key2=value2"),
        ("$(format-welf --key prefix.* --exclude prefix.exclude*)",
         "prefix.key1=value1 prefix.key2=value2"),
        ("$(format-welf --key prefix.* --exclude prefix.exclude1,prefix.exclude2)",
         "prefix.key1=value1 prefix.key2=value2"),
        ("$(format-welf --key prefix.* --exclude prefix.exclude1 --exclude prefix.exclude2)",
         "prefix.key1=value1 prefix.key2=value2"),
        ("$(format-welf --key prefix.* --exclude prefix.exclude* --exclude prefix.key2)",
         "prefix.key1=value1"),
        ("$(format-welf --key with_space)", 'with_space="with space"'),
    ]
    for template, expected in cases:
        got = _render(frame, template, ctx)
        assert got == [expected] * 2, (template, got)


def test_basicfuncs_c_suite_str_funcs(frame):
    """test_basicfuncs.c test_str_funcs goldens: multi-arg $(length)
    and $(base64-encode) (joined/concatenated), per-arg $(strip) with
    empty results DROPPED, and the $(sanitize) -r/-i/-C options."""
    ctx = _ctx({
        "PID": F.lit("23323"),
        "APP.STRIP1": F.lit("     value"),
        "APP.STRIP2": F.lit("value     "),
        "APP.STRIP3": F.lit("     value     "),
        "APP.STRIP4": F.lit("value"),
        "APP.STRIP5": F.lit(""),
    })

    def r(t):
        return _render(frame, t, ctx)[0]

    assert r("$(length ${APP.STRIP4} $PID)") == "5 5"
    assert r("$(length)") == ""
    assert r("$(strip ${APP.STRIP1})") == "value"
    assert r("$(strip ${APP.STRIP5})") == ""
    assert r("$(strip ${APP.STRIP5} ${APP.STRIP1} ${APP.STRIP5})") == "value"
    assert r(
        "$(strip ${APP.STRIP1} ${APP.STRIP2} ${APP.STRIP3} "
        "${APP.STRIP4} ${APP.STRIP5})"
    ) == "value value value value"
    assert r("$(sanitize alma/bela)") == "alma_bela"
    assert r("$(sanitize -r @ alma/bela)") == "alma@bela"
    assert r("$(sanitize -i @ alma@bela)") == "alma_bela"
    assert r("$(sanitize -i '@/l ' alma@/bela)") == "a_ma__be_a"
    assert r("$(sanitize alma\x1b_bela)") == "alma__bela"
    assert r("$(sanitize -C alma\x1b_bela)") == "alma\x1b_bela"
    assert r("[$(base64-encode abcd)]") == "[YWJjZA==]"
    assert r("[$(base64-encode abcd abcd abcd abcd)]") == "[YWJjZGFiY2RhYmNkYWJjZA==]"
    assert r("[$(base64-encode 'X X')]") == "[WCBY]"


def test_basicfuncs_c_suite_numeric_funcs(frame):
    """test_basicfuncs.c test_numeric_funcs: int vs double mode
    selection, NaN on parse failure AND div/mod by zero, truncating
    integer division, double rendering without trailing .0, round
    precision bounds (0..20, zero-padded fixed render)."""
    ctx = _ctx({"FACILITY_NUM19": F.lit("19")})

    def r(t):
        return _render(frame, t, ctx)[0]

    assert r("$(+ $FACILITY_NUM19 1)") == "20"
    assert r("$(+ -1 -1)") == "-2"
    assert r("$(- $FACILITY_NUM19 20)") == "-1"
    assert r("$(/ $FACILITY_NUM19 0)") == "NaN"
    assert r("$(% $FACILITY_NUM19 0)") == "NaN"
    assert r("$(+ foo bar)") == "NaN"
    assert r("$(+ 5000000000 5000000000)") == "10000000000"
    assert r("$(% 10000000000 5000000001)") == "4999999999"
    assert r("$(+ 1.5 .25)") == "1.75"
    assert r("$(- -1.5 .25)") == "-1.75"
    assert r("$(/ 3 2)") == "1"
    assert r("$(/ 3.0 2)") == "1.5"
    assert r("$(/ 3 2.0)") == "1.5"
    assert r("$(* 1.5 2.0)") == "3"
    assert r("$(+ 5e-1 0)") == "0.5"
    assert r("$(round 2.0)") == "2"
    assert r("$(round 2.123456 3)") == "2.123"
    assert r("$(round 2.123456 4)") == "2.1235"
    assert r("$(round 0.5)") == "1"
    assert r("$(round 2 -1)") == "NaN"
    assert r("$(round 2 21)") == "NaN"
    assert r("$(round 2 0)") == "2"
    assert r("$(round 2 20)") == "2." + "0" * 20
    assert r("$(floor 0.7)") == "0"
    assert r("$(ceil 0.2)") == "1"
    # fname funcs ride along (test_fname_funcs)
    assert r("$(basename foo)") == "foo"
    assert r("$(basename /foo/bar/baz)") == "baz"
    assert r("$(dirname foo)") == "."
    assert r("$(dirname /foo/bar/)") == "/foo/bar"
    assert r("$(dirname /foo/bar/baz)") == "/foo/bar"


def test_basicfuncs_c_suite_list_funcs(frame):
    """test_basicfuncs.c test_list_funcs: the LM_VT_LIST comma-list
    semantics — str-repr quoted elements, multi-arg list concat,
    structural empties vanishing, re-encoding on output, negative
    indices, python-style slice bounds, and every list-search mode."""
    ctx = _ctx({"PID": F.lit("23323")})

    def r(t):
        return _render(frame, t, ctx)[0]

    host_frame = "bzorp"  # stand-ins bound below
    ctx2 = _ctx({"PID": F.lit("23323")})

    assert r("$(list-concat)") == ""
    assert r("$(list-concat foo bar baz)") == "foo,bar,baz"
    assert r("$(list-concat foo bar baz '')") == "foo,bar,baz"
    assert r("$(list-concat foo bzorp,syslog-ng,23323 bar)") == (
        "foo,bzorp,syslog-ng,23323,bar"
    )
    assert r("$(list-append)") == ""
    assert r("$(list-append '' foo)") == "foo"
    assert r("$(list-append '' foo bar baz)") == "foo,bar,baz"
    assert r("$(list-append foo,bar,baz 'x')") == "foo,bar,baz,x"
    assert r("$(list-append foo,bar,baz '')") == 'foo,bar,baz,""'
    assert r("$(list-append foo,bar,baz 'xxx,')") == 'foo,bar,baz,"xxx,"'
    assert r("$(list-head)") == ""
    assert r("$(list-head '')") == ""
    assert r("$(list-head foo,)") == "foo"
    assert r("$(list-head ,bar,baz)") == "bar"
    assert r("$(list-head foo bar baz)") == "foo"
    assert r("$(list-head '' bar baz)") == "bar"
    assert r("$(list-head '\"\\tfoo,\",bar,baz')") == "\tfoo,"
    assert r("$(list-nth 0 '\"foo,\",\"bar\",\"baz\"')") == "foo,"
    assert r("$(list-nth 2 '\"foo,\",\"bar\",\"baz\"')") == "baz"
    assert r("$(list-nth 3 '\"foo,\",\"bar\",\"baz\"')") == ""
    assert r("$(list-nth -1 '\"foo,\",\"bar\",\"baz\"')") == "baz"
    assert r("$(list-nth -3 '\"foo,\",\"bar\",\"baz\"')") == "foo,"
    assert r("$(list-nth -4 '\"foo,\",\"bar\",\"baz\"')") == ""
    assert r("$(list-tail)") == ""
    assert r("$(list-tail foo)") == ""
    assert r("$(list-tail foo,)") == ""
    assert r("$(list-tail ,bar)") == ""
    assert r("$(list-tail foo,bar,baz)") == "bar,baz"
    assert r("$(list-tail foo bar baz)") == "bar,baz"
    assert r("$(list-tail foo,bar,xxx, baz bad)") == "bar,xxx,baz,bad"
    assert r("$(list-slice 0:0 foo,bar,xxx,baz,bad)") == ""
    assert r("$(list-slice 0:2 foo,bar,xxx,baz,bad)") == "foo,bar"
    assert r("$(list-slice 1:2 foo,bar,xxx,baz,bad)") == "bar"
    assert r("$(list-slice : foo,bar,xxx,baz,bad)") == "foo,bar,xxx,baz,bad"
    assert r("$(list-slice 3: foo,bar,xxx,baz,bad)") == "baz,bad"
    assert r("$(list-slice :3 foo,bar,xxx,baz,bad)") == "foo,bar,xxx"
    assert r("$(list-slice -2: foo,bar,xxx,baz,bad)") == "baz,bad"
    assert r("$(list-slice -100: foo,bar,xxx,baz,bad)") == "foo,bar,xxx,baz,bad"
    assert r("$(list-slice :-1 foo,bar,xxx,baz,bad)") == "foo,bar,xxx,baz"
    assert r("$(list-slice :-5 foo,bar,xxx,baz,bad)") == ""
    assert r("$(list-slice :-6 foo,bar,xxx,baz,bad)") == ""
    assert r("$(list-count foo,bar,xxx, baz bad)") == "5"
    assert r("$(explode ' ' foo bar xxx baz bad)") == "foo,bar,xxx,baz,bad"
    assert r("$(explode ';' foo;bar;xxx;baz;bad)") == "foo,bar,xxx,baz,bad"
    assert r("$(implode ' ' foo,bar,xxx,baz,bad)") == "foo bar xxx baz bad"
    assert r("$(implode ' ' $(list-slice :3 foo,bar,xxx,baz,bad))") == "foo bar xxx"
    assert r("$(list-search almafa '')") == ""
    assert r("$(list-search 'foo,' '\"foo,\",\"bar\",\"baz\",\"bar\"')") == "0"
    assert r("$(list-search --start-index 0 --mode literal bar '\"foo,\",\"bar\",\"baz\",\"bar\"')") == "1"
    assert r("$(list-search --start-index 2 bar '\"foo,\",\"bar\",\"baz\",\"bar\"')") == "3"
    assert r("$(list-search --start-index 5 baz '\"foo,\",\"bar\",\"baz\",\"bar\"' '\"foo,\",\"bar\",\"baz\",\"bar\"')") == "6"
    assert r("$(list-search almafa --mode literal '\"foo,\",\"bar\",\"baz\",\"bar\"')") == ""
    assert r("$(list-search --start-index 0 --mode prefix fo '\"foo,\",\"bar\",\"baz\"')") == "0"
    assert r("$(list-search --mode prefix ba '\"foo,\",\"bar\",\"baz\"')") == "1"
    assert r("$(list-search --start-index 2 --mode prefix ba '\"foo,\",\"bar\",\"baz\"')") == "2"
    assert r("$(list-search --start-index 0 --mode substring oo '\"foo,\",\"bar\",\"baz\"')") == "0"
    assert r("$(list-search --mode substring ar '\"foo,\",\"bar\",\"baz\"')") == "1"
    assert r("$(list-search --mode substring almafa '\"foo,\",\"bar\",\"baz\"')") == ""
    assert r("$(list-search --start-index 0 --mode glob f*, '\"foo,\",\"bar\",\"baz\"')") == "0"
    assert r("$(list-search --mode glob --start-index 1 *az '\"foo,\",\"bar\",\"baz\"')") == "2"
    assert r("$(list-search --mode glob ar '\"foo,\",\"bar\",\"baz\"')") == ""
    assert r("$(list-search --mode pcre ^bar$ '\"foo,\",\"bar\",\"baz\"')") == "1"
    assert r("$(list-search --mode pcre ba. '\"foo,\",\"bar\",\"baz\"')") == "1"
    assert r("$(list-search --mode pcre a...fa '\"foo,\",\"bar\",\"baz\"')") == ""


def test_basicfuncs_c_suite_cond_funcs(frame):
    """test_basicfuncs.c test_cond_funcs ($(if) comparison table with
    top-level and/or composition, $(or) first-non-empty)."""
    ctx = _ctx({"FACILITY_STR": F.lit("local3"), "FACILITY_NUM19": F.lit("19")})

    def r(t):
        return _render(frame, t, ctx)[0]

    assert r('$(if \'"$FACILITY_STR" lt "local3"\' alma korte)') == "korte"
    assert r('$(if \'"$FACILITY_STR" le "local3"\' alma korte)') == "alma"
    assert r('$(if \'"$FACILITY_STR" eq "local3"\' alma korte)') == "alma"
    assert r('$(if \'"$FACILITY_STR" ne "local3"\' alma korte)') == "korte"
    assert r('$(if \'"$FACILITY_NUM19" < "19"\' alma korte)') == "korte"
    assert r('$(if \'"$FACILITY_NUM19" <= "19"\' alma korte)') == "alma"
    assert r('$(if \'"$FACILITY_NUM19" == "19"\' alma korte)') == "alma"
    assert r('$(if \'"$FACILITY_NUM19" != "19"\' alma korte)') == "korte"
    assert r(
        '$(if \'"$FACILITY_NUM19" >= "19" and "kicsi" eq "nagy"\' alma korte)'
    ) == "korte"
    assert r(
        '$(if \'"$FACILITY_NUM19" >= "19" or "kicsi" eq "nagy"\' alma korte)'
    ) == "alma"
    assert r('$(or 1 "" 2)') == "1"
    assert r('$(or "" 2)') == "2"
    assert r('$(or "" "")') == ""
    assert r("$(or)") == ""


def test_basicfuncs_c_suite_map_filter(frame):
    """test_basicfuncs.c test_map/test_filter: per-element template
    eval with '$_' bound, composing through nested templates; filter
    takes a full condition. ($(iterate) keeps per-invocation state
    across messages — N/A in a batch column model.)"""
    ctx = _ctx({})

    def r(t):
        return _render(frame, t, ctx)[0]

    assert r('$(map "$(+ 1 $_)" 0,1,2)') == "1,2,3"
    assert r('$(map "$(+ 1 $_)" $(+ 1 1))') == "3"
    assert r("$(map \"$(+ 1 $_)\" '')") == ""
    assert r("$(map $(+ 1 $_) $(map $(+ 1 $_) 0,1,2))") == "2,3,4"
    assert r("$(map \"$(if ('$_' eq '1') 'same' 'different')\" 0,1,2)") == (
        "different,same,different"
    )
    assert r("$(map \"$(if ('$_' le '1') 'smaller' 'larger')\" 0,1,2)") == (
        "smaller,smaller,larger"
    )
    assert r("$(filter ('1' == '1') 0,1,2)") == "0,1,2"
    assert r("$(filter ('$_' le '1') 0,1,2)") == "0,1"
    assert r("$(filter ('$(% $_ 2)' eq '0') 0,1,2,3)") == "0,2"
    assert r("$(filter ('1' eq '0') '')") == ""


def test_frozen_builders_match_their_template_functions(spark):
    """The eight builders q_op_template_funcs calls (with its
    arguments) are the code behind their $(fn): rendering the template
    equals the builder's output cast to string, on non-null rows
    including an empty string and non-ASCII text."""
    from axosyslog_spark.functions import templates as tf

    texts = ["", "hello world, a longer line", "ünïcødé 日本語/текст.txt",
             "/corpus/web/doc_42.txt", "no-slash"]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    x = F.col("t")
    ctx = TemplateContext(columns={"t": x})
    cases = [
        ("$(length ${t})", tf.tf_length(x)),
        ("$(substr ${t} 0 16)", tf.tf_substr(x, 0, 16)),
        ("$(uppercase ${t})", tf.tf_uppercase(x)),
        ("$(padding ${t} 6 0)", tf.tf_padding(x, 6, "0")),
        ("$(basename ${t})", tf.tf_basename(x)),
        ("$(dirname ${t})", tf.tf_dirname(x)),
        ("$(sha256 --length 16 ${t})", tf.tf_sha256(x, 16)),
        ("$(md5 ${t})", tf.tf_md5(x)),
    ]
    out = df.select(
        "t",
        *[c for tmpl, b in cases
          for c in (compile_template(tmpl, ctx), b.cast("string"))],
    ).collect()
    assert len(out) == len(texts)
    for row in out:
        for k, (tmpl, _) in enumerate(cases):
            assert row[1 + 2 * k] == row[2 + 2 * k], (tmpl, row.t)
