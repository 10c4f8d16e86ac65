"""Property-based tests (hypothesis): random cases checked against
independent Python models of the reference semantics."""

from __future__ import annotations

import math
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from axosyslog_spark.operators import filters as flt
from axosyslog_spark.operators.patterndb import PdbRule, compile_pattern
from axosyslog_spark.operators.route import RouteBranch, RouteSpec, route_flags

# ---------------------------------------------------------------------------
# routing contract vs a direct Python interpreter of logmpx.c semantics
# ---------------------------------------------------------------------------

branch_strategy = st.tuples(
    st.one_of(st.none(), st.integers(0, 4)),  # threshold or unconditional
    st.booleans(),                            # final
    st.booleans(),                            # fallback
)


def python_route(rows, branches):
    out = []
    for row in rows:
        eligible = True
        matched_any = False
        delivered = []
        for i, (thr, final, fallback) in enumerate(branches):
            if fallback:
                continue
            m = True if thr is None else row[i] >= thr
            d = eligible and m
            if d:
                delivered.append(f"s{i}")
                matched_any = True
                if final:
                    eligible = False
        for i, (thr, final, fallback) in enumerate(branches):
            if not fallback:
                continue
            m = True if thr is None else row[i] >= thr
            if eligible and not matched_any and m:
                delivered.append(f"s{i}")
        out.append(delivered)
    return out


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    branches=st.lists(branch_strategy, min_size=1, max_size=4),
    rows=st.lists(st.integers(0, 4), min_size=4, max_size=4).flatmap(
        lambda proto: st.lists(
            st.tuples(*[st.integers(0, 4)] * 4), min_size=1, max_size=12
        )
    ),
)
def test_route_matches_python_model(spark, branches, rows):
    spec = RouteSpec(
        branches=tuple(
            RouteBranch(
                f"s{i}",
                None if thr is None else F.col(f"a{i}") >= thr,
                final=final,
                fallback=fallback,
            )
            for i, (thr, final, fallback) in enumerate(branches)
        )
    )
    n = len(branches)
    data = [(j,) + row[:n] + (0,) * (n - len(row[:n])) for j, row in enumerate(rows)]
    schema = "id int, " + ", ".join(f"a{i} int" for i in range(n))
    df = spark.createDataFrame(data, schema)
    got = {
        r.id: list(r.routes)
        for r in route_flags(df, spec).select("id", "routes").collect()
    }
    expected = python_route([row[1:] for row in data], branches)
    for j in range(len(data)):
        assert got[j] == expected[j], (branches, data[j])


# ---------------------------------------------------------------------------
# typed comparison vs a Python model of filter-cmp.c
# ---------------------------------------------------------------------------

VALUES = st.one_of(
    st.integers(-100, 100),
    st.floats(allow_infinity=False, width=32),
    st.sampled_from(["", "abc", "10", "7", "-3.5", "korte", "nan"]),
    st.none(),
    st.booleans(),
)
OPS = st.sampled_from(["==", "!=", "<", "<=", ">", ">=", "===", "!=="])


def _pytype(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "double"
    return "string"


def _to_num_py(v, t):
    if t == "null":
        return 0.0
    if t == "bool":
        return float(v)
    if t in ("int", "double"):
        return float(v)
    try:
        return float(v)  # Spark try_cast accepts the same decimal forms here
    except ValueError:
        return math.nan


def _cmp_py(a, b, op):
    return {
        "==": a == b, "!=": a != b, "<": a < b,
        "<=": a <= b, ">": a > b, ">=": a >= b,
    }[op]


def python_typed_cmp(l, r, op):
    lt, rt = _pytype(l), _pytype(r)
    if op in ("===", "!=="):
        if lt != rt:
            return op == "!=="
        return python_typed_cmp(l, r, "==" if op == "===" else "!=")
    if lt == rt == "string":
        return _cmp_py(l, r, op)
    if (lt == "null" or rt == "null") and op in ("==", "!="):
        return (lt == rt) == (op == "==")
    ln, rn = _to_num_py(l, lt), _to_num_py(r, rt)
    if math.isnan(ln) or math.isnan(rn):
        return op == "!="
    return _cmp_py(ln, rn, op)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(cases=st.lists(st.tuples(VALUES, VALUES, OPS), min_size=1, max_size=40))
def test_typed_cmp_matches_python_model(spark, cases):
    def lit(v):
        if v is None:
            return F.lit(None).cast("string")
        return F.lit(v)

    cols = [
        flt.typed_cmp(lit(l), _pytype(l), lit(r), _pytype(r), op).alias(f"c{i}")
        for i, (l, r, op) in enumerate(cases)
    ]
    row = spark.range(1).select(*cols).collect()[0]
    for i, (l, r, op) in enumerate(cases):
        assert row[f"c{i}"] is python_typed_cmp(l, r, op), (l, r, op)


# ---------------------------------------------------------------------------
# PatternDB compiler vs Python re (no Spark needed — pure compile check)
# ---------------------------------------------------------------------------

LITERAL = st.text(
    alphabet="abcdefghij XYZ.:/-", min_size=1, max_size=8
).filter(lambda s: "@" not in s)
NAME = st.sampled_from(["f1", "f2", "f3", "val", "num"])


@st.composite
def pattern_and_input(draw):
    """Build a pattern and an input line that must match it, plus the
    expected extracted values."""
    parts = []
    line = []
    expected = {}
    n_segs = draw(st.integers(1, 4))
    used = set()
    for i in range(n_segs):
        lit = draw(LITERAL)
        parts.append(lit.replace("@", "@@"))
        line.append(lit)
        cls = draw(st.sampled_from(["NUMBER", "STRING", "IPv4", None]))
        if cls is None:
            continue
        name = draw(NAME.filter(lambda n: n not in used))
        used.add(name)
        if cls == "NUMBER":
            val = str(draw(st.integers(-999, 9999)))
        elif cls == "IPv4":
            val = ".".join(
                str(draw(st.integers(0, 255))) for _ in range(4)
            )
        else:
            val = draw(st.text(alphabet="abcXYZ123", min_size=1, max_size=6))
        parts.append(f"@{cls}:{name}@")
        line.append(val)
        expected[name] = val
        # STRING consumes until whitespace: ensure a space separator next
        if i < n_segs - 1:
            parts.append(" ")
            line.append(" ")
    return "".join(parts), "".join(line), expected


@settings(max_examples=200, deadline=None)
@given(case=pattern_and_input())
def test_patterndb_compile_matches_re(case):
    pattern, line, expected = case
    rule = PdbRule("r", pattern)
    compiled = compile_pattern(rule, rule.patterns[0])
    m = re.match(compiled.regex, line)
    assert m is not None, (pattern, line, compiled.regex)
    for i, f in enumerate(compiled.fields):
        if f.name in expected:
            assert m.group(i + 1) == expected[f.name], (pattern, line)
    assert line.startswith(compiled.literal_prefix)


# ---------------------------------------------------------------------------
# dup-safe map fold vs the Python NVTable model
# ---------------------------------------------------------------------------


def python_nv_fold(pairs):
    """NVTable overwrite model: first-occurrence ORDER, last VALUE."""
    out: dict = {}
    for k, v in pairs:
        out[k] = v  # python dicts keep first-insertion order
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    pairs=st.lists(
        st.tuples(
            st.text(alphabet="abcXYZ09._-", min_size=1, max_size=4),
            st.text(alphabet="abc /=\"'", max_size=5),
        ),
        max_size=12,
    )
)
def test_entries_to_map_matches_nvtable_model(spark, pairs):
    from axosyslog_spark.operators.kvscan import entries_to_map

    df = spark.createDataFrame(
        [(list(map(list, pairs)),)],
        "entries array<struct<key:string,value:string>>",
    )
    got = df.select(entries_to_map(F.col("entries")).alias("m")).first()["m"]
    want = python_nv_fold(pairs)
    assert dict(got) == want
    # insertion ORDER is part of the contract (formatters re-emit in
    # map order): compare via JSON key order
    got_keys = df.select(
        F.map_keys(entries_to_map(F.col("entries"))).alias("k")
    ).first()["k"]
    assert got_keys == list(want.keys())


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.text(
            alphabet="ab =/\x01\x02\x03\x04\n\t", max_size=20
        ),
        min_size=1,
        max_size=6,
    )
)
def test_patterndb_never_garbled_by_control_bytes(spark, texts):
    """Classification of arbitrary control-byte-laced input equals
    classification of the stripped input — and never errors."""
    from axosyslog_spark.operators.patterndb import PatternDB

    rules = [
        PdbRule("kv", "a=@ESTRING:v: @b"),
        PdbRule("slash", "/@ESTRING:p:@"),
    ]
    pdb = PatternDB(rules)
    stripped = [
        t.translate({0x01: None, 0x02: None, 0x03: None, 0x04: None})
        for t in texts
    ]
    df = spark.createDataFrame(
        [(i, t, s) for i, (t, s) in enumerate(zip(texts, stripped))],
        "id int, raw string, clean string",
    )
    rows = pdb.apply(
        pdb.apply(df, text_col="raw", prefix="r_"), text_col="clean", prefix="c_"
    ).collect()
    for r in rows:
        assert r["r_rule_id"] == r["c_rule_id"]


# ---------------------------------------------------------------------------
# str-repr list encoding: the plan-time Python mirror must agree with
# the column-side implementation for any input
# ---------------------------------------------------------------------------


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                codec="ascii", exclude_characters="\x00"
            ),
            max_size=12,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_str_repr_py_matches_column(spark, texts):
    from axosyslog_spark.functions.templates import str_repr_encode, str_repr_py

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id int, s string"
    )
    rows = df.select("id", str_repr_encode(F.col("s")).alias("enc")).collect()
    got = {r["id"]: r["enc"] for r in rows}
    for i, t in enumerate(texts):
        assert got[i] == str_repr_py(t), repr(t)


# ---------------------------------------------------------------------------
# pii_redact / c4_filter vs direct Python models (round-5 training ops)
# ---------------------------------------------------------------------------

_PII_WORDS = ["alpha", "beta", "x9", "call", "now", "{", "Lorem", "ipsum."]
_PII_SNIPPETS = [
    "bob@example.com", "a.b-c_d@h.co", "123-45-6789", "555-123-4567",
    "555.123.4567", "10.0.0.1", "256.1.2.3", "1.2.3", "999-99-9999",
    "+123 456 7890", "not@an", "x@y.z",
]

pii_doc = st.lists(
    st.sampled_from(_PII_WORDS + _PII_SNIPPETS), min_size=0, max_size=12
).map(" ".join)


def _python_pii(text):
    import hashlib

    from axosyslog_spark.operators.textstats import PII_PATTERNS

    counts = {}
    for name, pat, token in PII_PATTERNS:
        counts[f"n_{name}s"] = len(re.findall(pat, text))
        text = re.sub(pat, token, text)
    return counts, hashlib.md5(text.encode()).hexdigest()


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=st.lists(pii_doc, min_size=1, max_size=8))
def test_pii_redact_matches_python_model(spark, docs):
    from axosyslog_spark.operators.textstats import pii_redact

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    got = {r.doc_id: r for r in pii_redact(df).collect()}
    for i, text in enumerate(docs):
        counts, digest = _python_pii(text)
        for k, v in counts.items():
            assert got[i][k] == v, (k, text)
        assert got[i].redacted_md5 == digest, text


_C4_LINE_WORDS = [
    "one two three four.", "ends with bang three!", 'quoted "',
    "no terminal punct", "so.", "enable javascript please.",
    "brace { inside. more words here.", "lorem ipsum dolor sit.",
    "five. six. seven. eight. nine.", "", "   ",
]

c4_page = st.lists(
    st.sampled_from(_C4_LINE_WORDS), min_size=0, max_size=8
).map("\n".join)


def _python_c4(text):
    import hashlib

    lines = text.split("\n")
    kept = [
        ln for ln in lines
        if re.search(r'[.!?"]$', ln.strip())
        and len(re.split(r"\s+", ln.strip())) >= 3
        and "javascript" not in ln.lower()
    ]
    cleaned = "\n".join(kept)
    n_sent = len(re.findall(r"[.!?]", cleaned))
    if "{" in text:
        reason = "brace"
    elif "lorem ipsum" in text.lower():
        reason = "lorem_ipsum"
    elif n_sent < 5:
        reason = "too_few_sentences"
    else:
        reason = None
    return (
        len(lines), len(kept), n_sent, reason,
        hashlib.md5(cleaned.encode()).hexdigest(),
    )


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(pages=st.lists(c4_page, min_size=1, max_size=8))
def test_c4_filter_matches_python_model(spark, pages):
    from axosyslog_spark.operators.textstats import c4_filter

    df = spark.createDataFrame(
        list(enumerate(pages)), "doc_id long, text string"
    )
    got = {r.doc_id: r for r in c4_filter(df).collect()}
    for i, text in enumerate(pages):
        n_lines, n_kept, n_sent, reason, digest = _python_c4(text)
        r = got[i]
        assert (r.n_lines, r.n_kept_lines, r.n_sentences) == (
            n_lines, n_kept, n_sent,
        ), text
        assert r.drop_reason == reason and r.kept == (reason is None), text
        assert r.cleaned_md5 == digest, text
