"""PatternDB golden extraction cases — lifted in spirit from
modules/correlation/tests/test_radix.c (class parsing) and the F4
pattern_rules fixture."""

from __future__ import annotations

import re

import pytest

from axosyslog_spark.operators import patterndb
from axosyslog_spark.operators.patterndb import (
    PatternDB,
    PdbRule,
    compile_pattern,
    compile_rule,
)


def _apply(spark, rules, lines):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(lines)], "id int, text string")
    pdb = PatternDB(rules)
    out = {r.id: r.asDict() for r in pdb.apply(df).collect()}
    return [out[i] for i in range(len(lines))]


F4_RULES = [
    PdbRule("kv_status", "status=@ESTRING:status: @latency_ms=@NUMBER:latency_ms@ path=@ESTRING:path:@"),
    PdbRule("login", "Accepted @ESTRING:auth_method: @for @ESTRING:user: @from @IPv4:src_ip@"),
]


def test_f4_kv_status(spark):
    rows = _apply(spark, F4_RULES, ["status=ok latency_ms=117 path=/v1/run"])
    r = rows[0]
    assert r["rule_id"] == "kv_status"
    assert r["status"] == "ok"
    assert r["latency_ms"] == 117          # NUMBER -> bigint
    assert r["path"] == "/v1/run"


def test_f4_login(spark):
    rows = _apply(
        spark, F4_RULES, ["Accepted password for alice from 10.1.2.3"]
    )
    r = rows[0]
    assert r["rule_id"] == "login"
    assert r["auth_method"] == "password"
    assert r["user"] == "alice"
    assert r["src_ip"] == "10.1.2.3"


def test_unmatched_is_null(spark):
    rows = _apply(spark, F4_RULES, ["no pattern here"])
    assert rows[0]["rule_id"] is None
    assert rows[0]["status"] is None


def test_parser_classes(spark):
    rules = [
        PdbRule("num", "n=@NUMBER:n@ f=@FLOAT:f@"),
        PdbRule("q", "said @QSTRING:quote:\"@ end"),
        PdbRule("mac", "mac=@MACADDR:mac@"),
        PdbRule("mail", "from @EMAIL:addr@"),
        PdbRule("set", "id=@SET:code:ABC0123456789@!"),
        PdbRule("pcre", "v=@PCRE:ver:[0-9]+\\.[0-9]+@;"),
        PdbRule("rest", "tail: @ANYSTRING:rest@"),
    ]
    rows = _apply(
        spark,
        rules,
        [
            "n=-42 f=3.14",
            'said "hello world" end',
            "mac=aa:bb:cc:dd:ee:ff",
            "from bob@example.com",
            "id=A1B2!",
            "v=2.17;",
            "tail: everything else here",
        ],
    )
    assert rows[0]["rule_id"] == "num" and rows[0]["n"] == -42 and rows[0]["f"] == 3.14
    # QSTRING stores the value WITHOUT quotes (radix.c r_parser_qstring)
    assert rows[1]["rule_id"] == "q" and rows[1]["quote"] == "hello world"
    assert rows[2]["mac"] == "aa:bb:cc:dd:ee:ff"
    assert rows[3]["addr"] == "bob@example.com"
    assert rows[4]["code"] == "A1B2"
    assert rows[5]["ver"] == "2.17"
    assert rows[6]["rest"] == "everything else here"


def test_longest_literal_prefix_wins(spark):
    # radix-trie preference: the more specific literal prefix matches
    # even when declared later
    rules = [
        PdbRule("generic", "error @ANYSTRING:msg@"),
        PdbRule("specific", "error code=@NUMBER:code@"),
    ]
    rows = _apply(spark, rules, ["error code=7", "error something broke"])
    assert rows[0]["rule_id"] == "specific" and rows[0]["code"] == 7
    assert rows[1]["rule_id"] == "generic" and rows[1]["msg"] == "something broke"


def test_at_escape(spark):
    rules = [PdbRule("a", "user@@host=@STRING:h@")]
    rows = _apply(spark, rules, ["user@host=web1"])
    assert rows[0]["rule_id"] == "a" and rows[0]["h"] == "web1"


def test_estring_empty_terminator_takes_rest(spark):
    rules = [PdbRule("a", "msg=@ESTRING:m:@")]
    rows = _apply(spark, rules, ["msg=rest of the line"])
    assert rows[0]["m"] == "rest of the line"


def test_shared_field_name_across_rules(spark):
    rules = [
        PdbRule("a", "A st=@STRING:st@"),
        PdbRule("b", "B st=@NUMBER:st@"),
    ]
    rows = _apply(spark, rules, ["A st=up", "B st=9"])
    assert rows[0]["st"] == "up" and rows[1]["st"] == "9"


def test_compile_rejects_bad_patterns():
    with pytest.raises(ValueError):
        compile_rule(PdbRule("x", "open@ESTRING:a"))
    with pytest.raises(ValueError):
        compile_rule(PdbRule("x", "bad @NOCLASS:a@"))


# --- classes + match tiers ported from modules/correlation/tests/test_radix.c


def test_optionalset(spark):
    rules = [PdbRule("os", "AAA@OPTIONALSET:set:  @AAA")]
    rows = _apply(spark, rules, ["AAA  AAA", "AAA AAA", "AAAAAA"])
    assert [r["set"] for r in rows] == ["  ", " ", ""]
    assert all(r["rule_id"] == "os" for r in rows)


def test_optionalset_at_end_after_qstring(spark):
    rules = [PdbRule("q", "@QSTRING:q:[]@@OPTIONALSET:s: @")]
    rows = _apply(spark, rules, ["[AAA]  ", "[AAA]"])
    assert rows[0]["q"] == "AAA" and rows[0]["s"] == "  "
    assert rows[1]["q"] == "AAA" and rows[1]["s"] == ""


def test_macaddr_partial_match_with_remainder(spark):
    # radix allows a partial match when no rule consumes the whole
    # message (test_radix.c test_mcaddr_matches: trailing ".iii")
    rules = [PdbRule("mac", "@MACADDR:macaddr@")]
    rows = _apply(spark, rules, ["82:63:25:93:eb:51.iii", "82:63:25:93:EB:51.iii"])
    assert rows[0]["macaddr"] == "82:63:25:93:eb:51"
    assert rows[1]["macaddr"] == "82:63:25:93:EB:51"


def test_lladdr_caps_parts(spark):
    rules = [PdbRule("ll", "@LLADDR:lladdr6:6@")]
    rows = _apply(spark, rules, ["83:63:25:93:eb:51:aa:bb.iii"])
    assert rows[0]["lladdr6"] == "83:63:25:93:eb:51"


def test_email_with_bracket_param(spark):
    rules = [PdbRule("m", "@EMAIL:email:[<]>@")]
    rows = _apply(
        spark,
        rules,
        ["blint@balabit.hu", "<blint@balabit.hu>", "[blint@balabit.hu]", "<a@b.c>"],
    )
    assert [r["email"] for r in rows] == [
        "blint@balabit.hu", "blint@balabit.hu", "blint@balabit.hu", "a@b.c",
    ]


def test_hostname_keeps_trailing_dot(spark):
    rules = [PdbRule("h", "@HOSTNAME:hostname@ kkk")]
    rows = _apply(spark, rules, ["www.example.org. kkk"])
    assert rows[0]["hostname"] == "www.example.org."


def test_nlstring(spark):
    rules = [PdbRule("nl", "@NLSTRING:nlstring@")]
    rows = _apply(
        spark,
        rules,
        ["foobar\r\nbaz", "foobar\nbaz", "\nbaz", "foobar\r\n", "foobar\n", "foobar"],
    )
    assert [r["nlstring"] for r in rows] == [
        "foobar", "foobar", "", "foobar", "foobar", "foobar",
    ]


def test_pcre_with_capturing_group_param(spark):
    # embedded groups are de-captured so field numbering holds
    rules = [PdbRule("p", "@PCRE:regexp:(foo|bar)@ @STRING:w@")]
    rows = _apply(spark, rules, ["foo next"])
    assert rows[0]["regexp"] == "foo" and rows[0]["w"] == "next"


def test_complete_match_beats_partial(spark):
    # the complete-match tier wins even when a longer-prefix rule
    # matches partially (radix require_complete_match first pass)
    rules = [
        PdbRule("partial_only", "pattern @NUMBER:a@ extra"),
        PdbRule("complete", "pattern @NUMBER:b@ tail"),
    ]
    rows = _apply(spark, rules, ["pattern 42 tail"])
    assert rows[0]["rule_id"] == "complete" and rows[0]["b"] == 42


def test_multi_pattern_rule(spark):
    rules = [
        PdbRule("multi", ("alpha id=@NUMBER:n@", "beta id=@NUMBER:n@ x=@STRING:x@")),
    ]
    rows = _apply(spark, rules, ["alpha id=1", "beta id=2 x=y"])
    assert rows[0]["rule_id"] == "multi" and rows[0]["n"] == 1 and rows[0]["x"] is None
    assert rows[1]["rule_id"] == "multi" and rows[1]["n"] == 2 and rows[1]["x"] == "y"


def test_rule_class_tags_and_values(spark):
    df_rules = [
        PdbRule(
            "r1",
            "login user=@STRING:user@",
            rule_class="system",
            tags=("auth", "ok"),
            values=(("greeting", "hello ${user}"), ("ulen", "$(length ${user})")),
        ),
        PdbRule("r2", "logout user=@STRING:user@", rule_class="system"),
    ]
    from axosyslog_spark.operators.patterndb import PatternDB

    df = spark.createDataFrame(
        [(0, "login user=alice"), (1, "logout user=bob"), (2, "nothing")],
        "id int, text string",
    )
    out = {
        r.id: r.asDict()
        for r in PatternDB(df_rules)
        .apply(df, with_class=True, with_tags=True)
        .collect()
    }
    assert out[0]["rule_class"] == "system" and out[0]["pdb_tags"] == ["auth", "ok"]
    assert out[0]["greeting"] == "hello alice" and out[0]["ulen"] == "5"
    assert out[1]["rule_class"] == "system" and out[1]["greeting"] is None
    assert out[2]["rule_class"] is None and out[2]["pdb_tags"] is None


# --- single-execution (combined-alternation) engine edge cases ---


def test_backtracking_does_not_leak_sentinels(spark):
    # alt 1 matches a strict prefix of the message then fails at \z,
    # forcing the engine to backtrack INTO alt 2. Java must reset alt
    # 1's sentinel capture or classification would pick the loser.
    rules = [
        PdbRule("short", "X@NUMBER:a@"),
        PdbRule("long", "X@NUMBER:b@-@NUMBER:c@"),
    ]
    rows = _apply(spark, rules, ["X12-34", "X12"])
    assert rows[0]["rule_id"] == "long" and rows[0]["b"] == 12 and rows[0]["c"] == 34
    assert rows[1]["rule_id"] == "short" and rows[1]["a"] == 12


def test_trailing_newline_is_not_complete(spark):
    # ADVICE r2: Java `$` also matches before a final newline; radix.c
    # requires full consumption, so the complete tier anchors with \z.
    # "v=1\n" must classify in the PARTIAL tier (pattern consumed,
    # remainder "\n" ignored), exactly like the RE2 oracle mirror.
    from pyspark.sql import functions as F

    rules = [PdbRule("kv", "v=@NUMBER:v@")]
    pdb = PatternDB(rules)
    df = spark.createDataFrame([(0, "v=1"), (1, "v=1\n")], "id int, text string")
    got = {
        r["id"]: r
        for r in df.select(
            "id", pdb.match_idx(F.col("text")).alias("idx")
        ).collect()
    }
    assert got[0]["idx"] == 0        # complete
    assert got[1]["idx"] == 1        # 0 + n(=1): partial tier


def test_empty_and_null_text(spark):
    from pyspark.sql import functions as F

    rules = [
        PdbRule("any", "@ANYSTRING:rest@"),
        PdbRule("kv", "v=@NUMBER:v@"),
    ]
    df = spark.createDataFrame([(0, ""), (1, None)], "id int, text string")
    pdb = PatternDB(rules)
    out = {r["id"]: r.asDict() for r in pdb.apply(df).collect()}
    # ANYSTRING matches the empty message completely (rest = "")
    assert out[0]["rule_id"] == "any" and out[0]["rest"] == ""
    assert out[1]["rule_id"] is None


def test_large_ruleset_classification(spark):
    # 60 rules: per-row work must stay two regex executions; this test
    # guards correctness of the combined alternation's group numbering
    # at ruleset sizes where hand-counting would go wrong.
    rules = [
        PdbRule(f"r{i}", f"svc{i} op=@ESTRING:op: @code=@NUMBER:code@ msg=@ANYSTRING:msg@")
        for i in range(60)
    ]
    lines = [f"svc{i} op=put code={i * 7} msg=tail {i}" for i in range(60)]
    rows = _apply(spark, rules, lines)
    for i, r in enumerate(rows):
        assert r["rule_id"] == f"r{i}"
        assert r["op"] == "put" and r["code"] == i * 7 and r["msg"] == f"tail {i}"


def _reference(rules, lines):
    """Independent Python-`re` model of the engine: the compiled
    patterns in precedence order (longest literal prefix first,
    declaration order on ties); the first complete match (fullmatch)
    wins, else the first partial match (match); the winner's fields
    are its groups, typed as declared and NULL elsewhere."""
    pats = sorted(
        (compile_pattern(r, p) for r in rules for p in r.patterns),
        key=lambda c: -len(c.literal_prefix),
    )
    names = {f.name for c in pats for f in c.fields}
    out = []
    for t in lines:
        row = dict.fromkeys(names)
        hit = None
        if t is not None:
            hit = next(
                ((c, m) for c in pats if (m := re.fullmatch(c.body, t))), None
            ) or next(((c, m) for c in pats if (m := re.match(c.body, t))), None)
        row["rule_id"] = hit[0].rule_id if hit else None
        if hit:
            c, m = hit
            for i, f in enumerate(c.fields):
                v = m.group(i + 1)
                if f.cast and v == "":
                    v = None
                elif f.cast == "bigint":
                    v = int(v)
                elif f.cast == "double":
                    v = float(v)
                row[f.name] = v
        out.append(row)
    return out


def _fixture_rules():
    from axosyslog_spark.operators.pdb_load import load_fixture

    [rs] = load_fixture()
    return list(rs.rules)


def _synthetic(k):
    return [
        PdbRule(
            f"syn{i:03d}",
            f"svc-{i:03d} op=@ESTRING:op: @code=@NUMBER:code@ detail=@ANYSTRING:detail@",
        )
        for i in range(k)
    ]


def _mixed22():
    return [
        PdbRule(f"svc{i:02d}", f"svc-{i:02d} op=@ESTRING:op: @n=@NUMBER:n@")
        for i in range(20)
    ] + [
        # nested prefixes: 'svc-' is a proper prefix of every svcNN
        PdbRule("svc_any", "svc-@ANYSTRING:rest@"),
        # empty literal prefix: catch-all candidate for every leaf
        PdbRule("num_first", "@NUMBER:lead@ tail=@ESTRING:tail:@"),
    ]


def _unprefixed(rules, lead=""):
    """The same rules behind a zero-width leading class, so their
    literal prefix is ``lead`` (empty: no prefix at all)."""
    return [
        PdbRule(r.rule_id, tuple(f"{lead}@OPTIONALSET:: @{p}" for p in r.patterns))
        for r in rules
    ]


REFERENCE_LINES = (
    [f"svc-{i:02d} op=get n={i}" for i in range(20)]
    + ["svc-99 odd shape", "7 tail=x", "svc-05 op=partial n=5 extra words",
       "zzz beyond every prefix", "aaa below every prefix", "", None]
    + [f"svc-{i:03d} op=put code={i * 7} detail=d {i}" for i in (0, 3, 45, 46, 120, 195)]
    + ["svc-007 op=put code=x detail=y", "svc-007 op=put code=9 detail=",
       "status=ok latency_ms=117 path=/v1/run retry=2",
       "status=ok latency_ms=117 path=/v1/run retry=2 and more",
       "status=error latency_ms=9 path=/v1/view",
       "status=error latency_ms=9 path=/v1/view retry=x",
       "BADHDR 2026-01-01 hostA status=ok latency_ms=5",
       "BADHDR 2026-01-01 hostA status=ok latency_ms=5 tail",
       "turn about cats with no structure",
       "turn about cats with no structure!",
       "turn about nothing"]
)
REFERENCE_SETS = {
    "mixed22": _mixed22,
    "fixture4": _fixture_rules,
    "rules50": lambda: _fixture_rules() + _synthetic(46),
    "rules200": lambda: _fixture_rules() + _synthetic(196),
    "prefixless": lambda: _unprefixed(_fixture_rules() + _synthetic(12)),
    "one_prefix": lambda: _unprefixed(_fixture_rules(), "app: ")
    + [PdbRule("num_first", "@NUMBER:lead@ tail=@ESTRING:tail:@")],
}


@pytest.mark.parametrize("strategy", ["merged", "two-pass"])
@pytest.mark.parametrize("ruleset", sorted(REFERENCE_SETS))
def test_engine_matches_python_re_reference(spark, monkeypatch, ruleset, strategy):
    """Every ruleset shape — nested/empty/many/no/one literal prefix —
    classifies and extracts exactly like the Python-`re` model, under
    either tier strategy: the complete tier wins across rules, the
    partial tier only when nothing matches completely."""
    monkeypatch.setattr(
        patterndb, "_MERGE_MAX_MEMBERS", 10**9 if strategy == "merged" else 0
    )
    rules = REFERENCE_SETS[ruleset]()
    pdb = PatternDB(rules)
    assert {leaf.strategy for leaf in pdb.leaves} == {strategy}
    if ruleset in ("prefixless", "one_prefix"):
        assert len(pdb.leaves) == 1
    lines = list(REFERENCE_LINES)
    if ruleset == "one_prefix":
        lines += ["app: " + t for t in lines if t]
    df = spark.createDataFrame(list(enumerate(lines)), "id int, text string")
    got = {r["id"]: r for r in pdb.apply(df).collect()}
    want = _reference(rules, lines)
    for i, w in enumerate(want):
        assert {k: got[i][k] for k in w} == w, lines[i]
    assert any(w["rule_id"] for w in want)


def test_tier_preference_through_the_tree(spark):
    """svc05 only partial-matches, and svc_any's ANYSTRING is a
    COMPLETE match — the complete tier wins across rules and leaves
    (radix.c two-pass)."""
    lines = ["svc-03 op=get n=3", "svc-99 odd shape", "7 tail=x",
             "svc-05 op=partial n=5 extra words", "zzz", "aaa"]
    rows = _apply(spark, _mixed22(), lines)
    assert len(PatternDB(_mixed22()).leaves) >= 20
    assert rows[0]["rule_id"] == "svc03" and rows[0]["n"] == 3
    assert [r["rule_id"] for r in rows[1:]] == [
        "svc_any", "num_first", "svc_any", None, None
    ]


def test_oversized_ruleset_rejected(monkeypatch):
    """More dispatch leaf ids than the id charset holds is an error,
    not a silent fallback: two-pass leaves take two ids each."""
    monkeypatch.setattr(patterndb, "_MAX_LEAF_IDS", 3)
    PatternDB(_synthetic(3))
    with pytest.raises(ValueError, match="more than 3 dispatch leaf ids"):
        PatternDB(_synthetic(4))
    monkeypatch.setattr(patterndb, "_MERGE_MAX_MEMBERS", 0)
    PatternDB(_synthetic(1))
    with pytest.raises(ValueError, match="more than 3 dispatch leaf ids"):
        PatternDB(_synthetic(2))


def test_control_bytes_sanitized(spark):
    """The framed-decode contract is enforced, not assumed: a literal
    \\x01-\\x04 byte in hostile input is stripped before classification
    (the reference's line sources strip control bytes), so it can
    neither garble the winning ordinal nor leak into field values."""
    lines = [
        # \x02 is the winner-mark byte: prepended mid-text it must not
        # fake a match or shift the ordinal
        "\x02status=ok latency_ms=1 path=/x",
        "status=ok latency_ms=2 path=/\x02y",
        # \x03 fakes the HIT prefix, \x01/\x04 fake frame separators
        "\x03Accepted password for eve from 1.2.3.4",
        "status=ok\x01 latency_ms=3 path=/z",
        "status=\x04ok latency_ms=4 path=/w",
        # all four at once on a non-matching line stays unmatched
        "\x01\x02\x03\x04 nothing",
    ]
    rows = _apply(spark, F4_RULES, lines)
    assert rows[0]["rule_id"] == "kv_status" and rows[0]["status"] == "ok"
    assert rows[1]["rule_id"] == "kv_status" and rows[1]["path"] == "/y"
    assert rows[2]["rule_id"] == "login" and rows[2]["user"] == "eve"
    assert rows[3]["rule_id"] == "kv_status" and rows[3]["latency_ms"] == 3
    assert rows[4]["rule_id"] == "kv_status" and rows[4]["status"] == "ok"
    assert rows[5]["rule_id"] is None
    # classify() (the standalone expression form) enforces it too
    df = spark.createDataFrame([(l,) for l in lines], "text string")
    from pyspark.sql import functions as F

    pdb = PatternDB(F4_RULES)
    got = [r[0] for r in df.select(pdb.classify(F.col("text"))).collect()]
    assert got == ["kv_status", "kv_status", "login", "kv_status", "kv_status", None]
