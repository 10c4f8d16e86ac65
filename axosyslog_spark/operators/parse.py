"""Parse stage: header classification + field extraction.

Reference semantics:
  - message format dispatch: lib/msg-format.c:122,179-227
  - RFC5424/RFC3164 header split: modules/syslogformat/syslog-format.c:1211
  - kv scanner: modules/kvformat/kv-parser.c + lib/scanner/kv-scanner/
  - json parser: modules/json/json-parser.c
  - parse-quality tags (unparsed): lib/logmsg/logmsg.h:108-144
  - default PRI when absent = 13 (facility user(1), severity notice(5)) —
    syslog-format.c default priority behavior.

Spark mapping: pure column algebra — one split for the RFC5424 header,
one framed match per RFC3164 tier and per regexp-parser pattern
(matchgroups.match_groups; a regexp_extract per group would run the
regex once per group), `when` chains for classification, casts for
typed promotion. No Python executes per row.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from axosyslog_spark.functions.literals import per_jvm, with_columns
from axosyslog_spark.operators.dateparse import parse_date
from axosyslog_spark.operators.kvscan import QUOTED, entries_to_map
from axosyslog_spark.operators.matchgroups import (
    capturing_groups, group, match_groups, matched, with_matches,
)

# RFC5424-ish: <PRI>VERSION SP TIMESTAMP SP HOSTNAME SP APP-NAME SP
#              PROCID SP MSGID SP STRUCTURED-DATA SP MSG
RFC5424_RE = r"^<([0-9]{1,3})>([0-9]) ([^ ]+) ([^ ]+) ([^ ]+) ([^ ]+) ([^ ]+) ([^ ]+) (.*)$"

# syslog default priority when the header is absent/invalid: 13
DEFAULT_PRI = 13

TS_FMT_SPARK = "yyyy-MM-dd'T'HH:mm:ss"


def classify_kind(text: Column) -> Column:
    """Message-shape dispatch (msg-format.c analog).

    'syslog' | 'json' | 'kv' | 'free' — anchored probes so that a
    malformed header (garbage prefix) does NOT leak into the kv path.
    """
    return (
        # cheap first-byte guard: only '<'-led lines can be RFC5424, so
        # the 9-group header regex never runs on kv/json/free rows
        F.when(text.startswith("<") & text.rlike(RFC5424_RE), F.lit("syslog"))
        .when(text.startswith("{"), F.lit("json"))
        .when(text.startswith("status="), F.lit("kv"))
        .otherwise(F.lit("free"))
    )


def parse_header(df: DataFrame, text_col: str = "text") -> DataFrame:
    """RFC5424 header parse + typed promotion + parse-quality tags.

    Adds: kind, parse_ok, pri, severity, facility, host, appname,
    procid, msg_ts, body, tags.

    Two-step projection ON PURPOSE: `kind` and the token array are
    materialized in their own Project so every downstream column
    reads them as plain attribute references. Folding everything
    into one withColumns repeats the split/classify subtrees per
    column and whole-stage codegen does NOT reliably CSE them —
    measured 2x slower at 5M rows.
    """
    kind, toks, pri_raw, fields = _header_columns(text_col)
    staged = (
        df.withColumn("kind", kind)
        .withColumn("__toks", toks)
        .withColumn("__pri_raw", pri_raw)
    )
    return with_columns(staged, fields, ("__toks", "__pri_raw"))


@per_jvm
def _header_columns(text_col: str) -> tuple[Column, Column, Column, dict[str, Column]]:
    """parse_header's staged columns (kind, __toks, __pri_raw, then the
    output fields), built once per JVM and source column."""
    text = F.col(text_col)

    # Extraction fast path: classification already proved the full
    # RFC5424 regex matches, so the header splits into exactly 8
    # space-separated parts with the message intact in part 8 (the
    # regex's field groups are \S+, i.e. single-space separated).
    # ONE split replaces nine regexp_extract passes over the line.
    kind = F.col("kind")
    # tokenize ONLY syslog rows (null array otherwise — element_at on
    # null stays null and every consumer is already kind-gated)
    toks_expr = F.when(kind == "syslog", F.split(text, " ", 8))
    toks = F.col("__toks")

    def g(i: int) -> Column:
        # groups 3..9 == tokens 2..8 (ts, host, app, procid, msgid, sd, msg)
        return F.element_at(toks, i - 1)

    # PRI digits inside token 0 ("<13>1" -> 13), staged as its OWN
    # materialized column: pri/severity/facility all branch on it, and
    # inlined it lands 6x in one Project where codegen subexpression
    # elimination does not reliably dedup branch-nested copies — the
    # staged attribute runs the regex once per row (measured 1.97s ->
    # 1.64s on the 5M-row header stage, round 6)
    pri_raw_expr = F.regexp_extract(
        F.element_at(toks, 1), "^<([0-9]{1,3})>", 1
    ).cast("int")
    pri_raw = F.col("__pri_raw")
    # invalid PRI (>191) falls back to the default, like a failed parse
    pri_num = F.when(
        (kind == "syslog") & (pri_raw <= 191), pri_raw
    ).otherwise(F.lit(DEFAULT_PRI))

    fields = {
        "parse_ok": kind != "free",
        "pri": pri_num,
        "severity": (pri_num % 8).cast("int"),
        "facility": ((pri_num - pri_num % 8) / 8).cast("int"),
        "host": F.when(kind == "syslog", g(4)),
        "appname": F.when(kind == "syslog", g(5)),
        "procid": F.when(kind == "syslog", g(6)),
        # RFC5424 TIMESTAMP carries a zone designator (Z or
        # +hh:mm); the transcripts generator emits naked stamps —
        # accept both. Dispatch on length (naked == exactly 19
        # chars) instead of coalesce(parse, parse): a failed
        # try_to_timestamp walks the JVM exception path per row,
        # measured 27% slower on the 5M-row ts stage than one
        # length compare (A/B r5); each row parses exactly once.
        # An arithmetic substring->try_make_timestamp variant of
        # the naked-stamp branch measured 2.2x faster ISOLATED but
        # consistently ~0.45s SLOWER inside this projection (r6
        # A/B, both token stagings) — the formatter stays.
        "msg_ts": F.when(
            kind == "syslog",
            F.when(
                F.length(g(3)) == 19,
                F.try_to_timestamp(g(3), F.lit(TS_FMT_SPARK)),
            ).otherwise(
                F.try_to_timestamp(g(3), F.lit(TS_FMT_SPARK + "XXX"))
            ),
        ),
        "body": F.when(kind == "syslog", g(9)).otherwise(text),
        "tags": F.when(kind != "free", F.array(kind)).otherwise(
            F.array(F.lit("unparsed"))
        ),
    }
    return classify_kind(text), toks_expr, pri_raw_expr, fields


def parse_kv(df: DataFrame, src_col: str = "body") -> DataFrame:
    """kv-parser() analog: extract well-known key=value fields, typed.

    Reference: modules/kvformat/kv-parser.c (value-separator '=',
    pair-separator ' '). Implemented as anchored regexp extraction so
    it composes with the syslog body (kv fields live in the body).
    """
    return df.withColumns(_kv_columns(src_col))


@per_jvm
def _kv_columns(src_col: str) -> dict[str, Column]:
    src = F.col(src_col)
    return {
        "status": F.nullif(F.regexp_extract(src, r"status=([a-z]+)", 1), F.lit("")),
        "latency_ms": F.nullif(
            F.regexp_extract(src, r"latency_ms=([0-9]+)", 1), F.lit("")
        ).try_cast("bigint"),
        "path": F.nullif(F.regexp_extract(src, r"path=([^ ]+)", 1), F.lit("")),
        "retry": F.nullif(
            F.regexp_extract(src, r"retry=([0-9]+)", 1), F.lit("")
        ).try_cast("int"),
    }


_JSON_TMP = ("__json_k", "__json_event", "__json_latency_ms")


def parse_json_fields(df: DataFrame, src_col: str = "text") -> DataFrame:
    """json-parser() analog for the embedded JSON shape: promote known
    fields ($.k, $.event, $.latency_ms) to typed columns.

    ONE json_tuple parses each JSON row once for all three fields,
    where three get_json_object calls parsed it three times. json_tuple
    is a generator and breaks the codegen stage, yet whole route_fanout
    passes still measured faster with it (150k turns, 4 vCPUs, 14
    alternating rounds in one process: 0.664 s median against 0.708 s,
    faster in 12). On a duplicate key json_tuple reports the LAST pair,
    as RFC 8259 §4 notes many parsers do (get_json_object reported the
    first)."""
    tup, fields = _json_columns(src_col)
    return with_columns(df.select("*", tup), fields, _JSON_TMP)


@per_jvm
def _json_columns(src_col: str) -> tuple[Column, dict[str, Column]]:
    # non-JSON rows feed NULL: json_tuple still emits one all-NULL row
    src = F.when(F.col("kind") == "json", F.col(src_col))
    tup = F.json_tuple(src, "k", "event", "latency_ms").alias(*_JSON_TMP)
    k, event, latency = (F.col(c) for c in _JSON_TMP)
    return tup, {
        "json_k": k.try_cast("bigint"),
        "json_event": event,
        "latency_ms": F.coalesce(F.col("latency_ms"), latency.try_cast("bigint")),
    }


# BSD syslog: <PRI>MMM dd HH:mm:ss HOST TAG[PID]: MSG
RFC3164_RE = (
    # the <PRI> is OPTIONAL on the BSD branch (syslog-format.c accepts
    # pri-less lines from legacy daemons — e.g. the sudo row in the
    # reference's topic-syslog functional suite — defaulting pri=13)
    # optional space after the pri (the reference skips it), PID is
    # any bracketed token (test_syslog_format.c uses literal "pid").
    # Groups: 1 pri, 2 stamp, 3 host, 4 program-onward (LP_CHECK_PROGRAM
    # puts an invalid program back into the MSG), 5 program, 6 pid, 7 msg
    r"^(?:<([0-9]{1,3})> ?)?"
    r"([A-Z][a-z]{2} [ 0-9][0-9] [0-9]{2}:[0-9]{2}:[0-9]{2}) "
    r"([^ ]+) (([^\[ :]+)(?:\[([^\] :]+)\])?: (.*))$"
)

# pri-led line with NO timestamp: "<PRI> PROGRAM[PID]: MSG"
# (syslog-format.c missing-timestamp branch; HOST stays unset).
# Groups: 1 pri, 2 program-onward, 3 program, 4 pid, 5 msg
RFC3164_NO_TS_RE = r"^<([0-9]{1,3})> ?(([^\[ :]+)(?:\[([^\] :]+)\])?: (.*))$"


def parse_rfc3164(
    df: DataFrame,
    text_col: str = "text",
    year: int | None = 2024,
    recvd_col: str = "ts",
    check_program: bool = False,
) -> DataFrame:
    """RFC3164 (BSD) header parse (modules/syslogformat/syslog-format.c
    legacy branch). The format carries no year — pass ``year`` to pin
    one, or ``year=None`` to infer it from the receive-time column
    like the reference (lib/timeutils/wallclocktime.c
    determine_year_for_month): a December stamp received in January
    belongs to LAST year, a January stamp received in December to NEXT
    year, anything else to the receive year."""
    text = F.col(text_col)
    # one framed match per tier, each staged in its own column; the
    # no-timestamp tier runs only where the full header missed
    bsd, no_ts = "__bsd_m", "__bsd_no_ts_m"
    df = with_matches(df, {bsd: match_groups(text, RFC3164_RE)})
    m = matched(F.col(bsd))
    df = with_matches(df, {no_ts: F.when(~m, match_groups(text, RFC3164_NO_TS_RE))})
    m2 = matched(F.col(no_ts))
    g, g2 = partial(group, F.col(bsd)), partial(group, F.col(no_ts))
    # space-padded BSD days ("Jan  5") -> collapse for parsing
    stamp = F.regexp_replace(g(2), "  ", " ")
    if year is None:
        # probe the month with a leap year so Feb 29 survives, then
        # apply the year-boundary rule against the receive time
        probe = parse_date(F.concat(F.lit("2000 "), stamp), ("yyyy MMM d HH:mm:ss",))
        mon, rmon = F.month(probe), F.month(F.col(recvd_col))
        ryear = F.year(F.col(recvd_col))
        year_col = (
            F.when((mon == 12) & (rmon == 1), ryear - 1)
            .when((mon == 1) & (rmon == 12), ryear + 1)
            .otherwise(ryear)
        ).cast("string")
    else:
        year_col = F.lit(str(year))
    # try_cast: the pri group is empty on pri-less BSD lines (ANSI
    # cast would throw); absent or out-of-range -> DEFAULT_PRI (13)
    # lenient branches (test_syslog_format.c): a pri-led line without
    # a timestamp still parses PROGRAM[PID]: MSG; a '<'-led line whose
    # pri never closes keeps the WHOLE input as MSG with the
    # invalid-pri quality tag (the BSD handler never rejects)
    bad_pri = ~m & ~m2 & text.rlike(r"^<[0-9]")
    pri_str = F.when(m, g(1)).when(m2, g2(1))
    pri = F.when(
        (pri_str.try_cast("int") <= 191), pri_str.try_cast("int")
    ).otherwise(F.lit(DEFAULT_PRI))
    prog = F.when(m, g(5)).when(m2, g2(3))
    pid = F.nullif(F.when(m, g(6)).when(m2, g2(4)), F.lit(""))
    body = F.when(m, g(7)).when(m2, g2(5)).otherwise(text)
    tags = (
        F.when(m2, F.array(
            F.lit("syslog.missing_timestamp"),
            F.lit("syslog.rfc3164_missing_header"),
        ))
        .when(bad_pri, F.array(F.lit("syslog.invalid_pri")))
        .otherwise(F.array().cast("array<string>"))
    )
    if check_program:
        # LP_CHECK_PROGRAM (_validate_program_char): alnum or ".-_()/"
        # only, and at least one alpha — an invalid program stays in
        # the MSG with the rfc3164_invalid_program tag
        valid = prog.rlike(r"^[A-Za-z0-9.\-_()/]+$") & prog.rlike("[A-Za-z]")
        invalid = (m | m2) & ~F.coalesce(valid, F.lit(True))
        body = F.when(invalid, F.when(m, g(4)).otherwise(g2(2))).otherwise(body)
        prog = F.when(invalid, F.lit(None)).otherwise(prog)
        pid = F.when(invalid, F.lit(None)).otherwise(pid)
        tags = F.when(
            invalid,
            F.concat(tags, F.array(F.lit("syslog.rfc3164_invalid_program"))),
        ).otherwise(tags)
    return df.withColumns(
        {
            "bsd_ok": m,
            "pri": pri,
            "severity": (pri % 8).cast("int"),
            "facility": ((pri - pri % 8) / 8).cast("int"),
            "msg_ts": F.when(
                m,
                parse_date(
                    F.concat(year_col, F.lit(" "), stamp), ("yyyy MMM d HH:mm:ss",)
                ),
            ),
            "host": F.when(m, g(3)),
            "appname": prog,
            "procid": pid,
            "body": body,
            "bsd_tags": tags,
        }
    ).drop(bsd, no_ts)


def format_sdata(sdata: Column) -> Column:
    """Dotted-key SDATA map back to RFC5424 STRUCTURED-DATA text —
    the inverse of parse_sdata: {.SDATA.id.param: v, ...} renders as
    '[id param="v" ...][id2 ...]' with SD-IDs in first-appearance
    order, or '-' when the map is null/empty. A value's '"', '\\' and
    ']' are backslash-escaped, as parse_sdata unescapes them.
    Cost note: the per-id filter re-walks the entry array — fine for
    SDATA-sized maps (a handful of entries)."""
    entries = F.map_entries(sdata)

    def kid(e: Column) -> Column:
        return F.regexp_extract(e["key"], r"^\.SDATA\.([^.]+)\.", 1)

    def kparam(e: Column) -> Column:
        return F.regexp_extract(e["key"], r"^\.SDATA\.[^.]+\.(.*)$", 1)

    blocks = F.transform(
        F.array_distinct(F.transform(entries, kid)),
        lambda i: F.concat(
            F.lit("["), i,
            F.aggregate(
                F.filter(entries, lambda e: kid(e) == i),
                F.lit(""),
                lambda acc, e: F.concat(
                    acc, F.lit(" "), kparam(e), F.lit('="'),
                    F.regexp_replace(e["value"], r'(["\\\]])', r"\\$1"),
                    F.lit('"'),
                ),
            ),
            F.lit("]"),
        ),
    )
    return F.when(
        sdata.isNull() | (F.size(entries) == 0), F.lit("-")
    ).otherwise(F.array_join(blocks, ""))


def rfc5424_header(
    pri: Column, stamp: Column, host: Column, app: Column, procid: Column,
    msgid: Column,
) -> Column:
    """The one RFC5424 header builder: ``<PRI>1 STAMP HOST APP PROCID
    MSGID`` from already-rendered string Columns. The stamp format and
    the absent-value rule (``${X}`` renders empty, ``${X:--}`` '-')
    are each template's own, so every caller renders its fields first."""
    return F.concat(
        F.lit("<"), pri, F.lit(">1 "), stamp, F.lit(" "), host, F.lit(" "),
        app, F.lit(" "), procid, F.lit(" "), msgid,
    )


def format_rfc5424(
    pri: Column, ts: Column, host: Column, appname: Column, procid: Column,
    body: Column, msgid: Column | None = None, sdata: Column | None = None,
) -> Column:
    """Render columns back into an RFC5424 line — the template/
    $(format-syslog-5424) analog (modules/syslogformat/
    syslog-format-plugin.c:60). Inverse of parse_header for our header
    subset; roundtrip is unit-tested (bit-exact output contract).
    Absent header values render '-', the stamp has no zone.
    ``sdata`` may be a rendered string or a dotted-key map column."""
    sd = F.lit("-") if sdata is None else sdata
    header = rfc5424_header(
        pri.cast("string"), F.date_format(ts, TS_FMT_SPARK),
        F.coalesce(host, F.lit("-")), F.coalesce(appname, F.lit("-")),
        F.coalesce(procid, F.lit("-")),
        F.coalesce(msgid, F.lit("-")) if msgid is not None else F.lit("-"),
    )
    return F.concat(header, F.lit(" "), sd, F.lit(" "), F.coalesce(body, F.lit("")))


def parse_sdata(df: DataFrame, sd_col: str, out_col: str = "sdata") -> DataFrame:
    """RFC5424 STRUCTURED-DATA -> map with dotted keys, the one SD
    parser (modules/syslogformat/syslog-format.c:591-706; also
    sdata-parser(), which reads the same shape out of $MESSAGE).

    `[id k="v" k2=v2][id2]` becomes
    `{.SDATA.id.k: v, .SDATA.id.k2: v2, .SDATA.id2: ""}`: a value may
    be quoted or unquoted and is everything after the param's first
    '='; a bare SD-ID is stored with an empty value. '-', NULL or a
    string with no [...] block gives an empty map. Inside a quoted
    value the RFC5424 escapes \\" \\\\ and \\] are part of the value and
    are unescaped; an unquoted value holds no quote, space or ']'. A
    param repeated inside a block keeps its last value
    (entries_to_map; the reference's nv-table overwrites). Pure column
    algebra: nested regexp_extract_all + transform.
    """
    src = F.col(sd_col)
    blocks = F.regexp_extract_all(
        src, F.lit(r'\[((?:[^\]"]++|' + QUOTED + r")+)\]"), 1
    )
    param_re = r"([\w.@-]+)=(?:" + QUOTED + r'|[^\s\]"]+)'

    def sd_value(v: Column) -> Column:
        return F.when(
            v.startswith('"'),
            F.regexp_replace(
                F.regexp_extract(v, '^"(.*)"$', 1), r'\\(["\\\]])', "$1"
            ),
        ).otherwise(v)

    def block_entries(b: Column) -> Column:
        params = F.transform(
            F.regexp_extract_all(b, F.lit(param_re), 0),
            lambda p: F.struct(
                F.concat(
                    F.lit(".SDATA."),
                    F.substring_index(b, " ", 1),
                    F.lit("."),
                    F.substring_index(p, "=", 1),
                ).alias("key"),
                sd_value(F.regexp_replace(p, r"^[\w.@-]+=", "")).alias("value"),
            ),
        )
        bare = F.struct(
            F.concat(F.lit(".SDATA."), b).alias("key"), F.lit("").alias("value")
        )
        return F.when(
            (F.size(params) == 0) & b.rlike(r"^[\w.@-]+$"), F.array(bare)
        ).otherwise(params)

    return df.withColumn(
        out_col,
        F.when(
            src.isNull() | (F.size(blocks) == 0),
            F.expr("map()").cast("map<string,string>"),
        ).otherwise(entries_to_map(F.flatten(F.transform(blocks, block_entries)))),
    )


def tags_parser(df: DataFrame, src_col: str, out_col: str = "tags") -> DataFrame:
    """tags-parser(): parse a $TAGS-style comma list back into the tags
    array (modules/tagsparser/)."""
    return df.withColumn(out_col, F.split(F.col(src_col), ","))


def parse_stage(df: DataFrame) -> DataFrame:
    """The full parse stage used by the flagship pipeline."""
    return parse_json_fields(parse_kv(parse_header(df)))


def regexp_parser(
    df: DataFrame,
    patterns: list[str] | tuple[str, ...],
    src_col: str = "text",
    prefix: str = "",
    flags: tuple[str, ...] = (),
    drop_unmatched: bool = True,
) -> DataFrame:
    """regexp-parser() (modules/regexp-parser/): ordered patterns,
    FIRST matching pattern applies; its named groups store under
    ``prefix`` + name. flags: 'ignore-case' prepends (?i); 'dupnames'
    allows the same name in several alternatives of one pattern (the
    leftmost participating instance wins — PCRE J semantics; without
    the flag a duplicate name is a config compile error, like the
    reference). Unmatched rows DROP (parser failure in a log path)
    unless drop_unmatched=False.

    Goldens: tests/light functional_tests/parsers/regexp-parser ported
    in tests/test_parse.py. One framed match per pattern
    (matchgroups.match_groups), staged in its own column and run only
    on the rows every earlier pattern missed; each name reads its
    groups out of the one staged array that matched."""
    import re as _re

    src = F.col(src_col)
    compiled: list[tuple[str, list[tuple[str, int]]]] = []
    for pat in patterns:
        names = capturing_groups(pat)
        named = [(nm, ix + 1) for ix, nm in enumerate(names) if nm]
        dup = len({nm for nm, _ in named}) < len(named)
        if dup:
            if "dupnames" not in flags:
                raise ValueError(
                    f"regexp-parser: duplicate group name in {pat!r} "
                    "requires flags(dupnames)"
                )
            # Java regex rejects duplicate names outright — rename to
            # unique ordinals; the coalesce below restores the
            # leftmost-participating-wins semantics (group ORDINALS in
            # `named` are position-based, so they survive the rename)
            counter: dict[str, int] = {}

            def _rename(m):
                nm = m.group(1)
                counter[nm] = counter.get(nm, 0) + 1
                return f"(?<{nm}X{counter[nm]}>"

            pat = _re.sub(r"\(\?P?<([A-Za-z_][A-Za-z0-9_]*)>", _rename, pat)
        java_pat = ("(?i)" if "ignore-case" in flags else "") + pat
        # config-time compile error parity; Python spells named groups
        # (?P<name> where Java/PCRE accept (?<name> — normalize for the
        # validation only (lookbehinds (?<= (?<! are left alone)
        _re.compile(_re.sub(r"\(\?<([A-Za-z_])", r"(?P<\1", java_pat))
        compiled.append((java_pat, named))

    staged = [f"__rx{j}" for j in range(len(compiled))]
    out, missed = df, F.lit(True)
    for c, (p, _) in zip(staged, compiled):
        out = with_matches(out, {c: F.when(missed, match_groups(src, p))})
        missed = missed & ~F.coalesce(matched(F.col(c)), F.lit(False))
    if drop_unmatched:
        out = out.filter(~missed)
    # a missed or gated pattern's groups are NULL: the first non-empty
    # group is the winning pattern's leftmost participating instance
    all_names = sorted({nm for _, named in compiled for nm, _ in named})
    new_cols = {
        prefix + nm: F.coalesce(*[
            F.nullif(group(F.col(c), ix), F.lit(""))
            for c, (_, named) in zip(staged, compiled) for n2, ix in named if n2 == nm
        ])
        for nm in all_names
    }
    return out.withColumns(new_cols).drop(*staged)
