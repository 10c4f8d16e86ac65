"""snmptrapd-parser(): parse Net-SNMP snmptrapd log output into NV
pairs.

Reference: modules/afsnmp/snmptrapd-header-parser.c:1-327 (header
steps), modules/afsnmp/varbindlist-scanner.c:1-102 (varbind kv
scanner config: '=' value sep, '\\t' pair sep, stop at '\\n', keys
allow ':', type annotation "TYPE:" after the '='),
modules/afsnmp/snmptrapd-parser.c:1-270 (key normalization, prefix,
$MESSAGE generation); semantics ported from
modules/afsnmp/tests/test_snmptrapd_parser.c.

Input shape (one snmptrapd record, possibly multi-line):

    DATE HOST [TRANSPORT_INFO]:            <- v2 header (line 1)
    varbind = TYPE: value<TAB>varbind = ...

    DATE HOST [TRANSPORT_INFO]: ENTERPRISE_OID      <- v1 header
    <TAB> TRAP_TYPE (SUBTYPE) Uptime: UPTIME
    varbind = TYPE: value<TAB>...

Faithful behaviors (each exercised by a ported test):
  - v1 is detected when the first '\\n' is followed by '\\t'; a v2
    varbind list that starts with a tab therefore routes to the v1
    parser and FAILS (message dropped) — same as the reference.
  - transport_info runs to the LAST ']' before the newline, so
    nested brackets like "[UDP: [127.0.0.1]:34257->[127.0.0.1]:162]"
    survive.
  - after the header colon (v2) only spaces may precede the newline
    or end-of-message; anything else drops the record.
  - varbind type annotation: after '=', a token terminated by ':'
    before any space/tab is the (discarded) SNMP type — "INTEGER:",
    "Timeticks:", "Hex-STRING:" — the value is what follows.
  - unquoted values absorb spaces and words until the tab pair
    separator or a "next-key =" boundary; a value wholly in double
    or single quotes decodes like every kv-scanner value
    (templates.str_repr_decode: "a\\nb\\\\c" -> a<LF>b\\c); varbinds
    stop at the line's newline ("garbage = stop here" on the next line
    is dropped).
  - keys are prefixed (default ".snmp.") and runs of ':' normalize
    to one '_' (":NET-SNMP::MIB:" -> "_NET-SNMP_MIB_").
  - NV insertion order is hostname, transport_info, [v1: enterprise
    oid, type, subtype, uptime], then varbinds; duplicate keys keep
    first position / last value (NVTable overwrite).

Spark-first: one framed match of the version's anchored header regex
(matchgroups.match_groups) + one varbind span regex
(regexp_extract_all), per-span decode expressions — no Python per
row, no shuffle; a pure projection at any scale.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from axosyslog_spark.functions.templates import str_repr_decode
from axosyslog_spark.operators.dateparse import parse_date
from axosyslog_spark.operators.kvscan import QUOTED, entries_to_map
from axosyslog_spark.operators.matchgroups import group, match_groups, matched, with_matches

# varbind key characters (varbindlist-scanner.c _is_valid_key_character)
_KEYC = r"[A-Za-z0-9_.:-]"

# header: DATE HOST [TRANSPORT]:   (steps skip ' ' runs in between;
# transport = after '[' + spaces, to the LAST ']' before the newline)
_HDR = (
    r"^ *(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2})"
    r" +([^\s]+)"
    r" *\[ *([^\n]*)\] *:"
)
# v2 tail: only spaces before newline / end-of-message
_V2_RE = _HDR + r" *(?:\n|$)"
# v1 tail: optional enterprise oid, newline, tab, "TYPE (SUBTYPE)"
# (one trailing space of TYPE trimmed), "Uptime:" then rest of line
_V1_RE = (
    _HDR
    + r" *([^\s]*) *\n *\t *([^(\n]*?) ?\(([^)\n]*)\) *Uptime: *([^\n]*)(?:\n|$)"
)

# one varbind span: key [sp]= [sp/tab] [TYPE:] (quoted | absorbing run)
# the absorbing run ends at the tab pair separator, at spaces followed
# by a "key =" / tab / end, or at end of line (input pre-truncated at
# the newline, mirroring the scanner's stop character)
_VB_RE = (
    rf"{_KEYC}+[ ]*=[ \t]*(?:[^: \t\n]*:[ ]*)?"
    rf"(?:{QUOTED}"
    rf"|.*?(?=\t|[ ]+(?:\t|{_KEYC}+[ ]*=|$)|$))"
)


def _varbind_entries(section: Column) -> Column:
    """Varbind line -> array<struct<key,value>> in scan order."""
    spans = F.regexp_extract_all(section, F.lit(_VB_RE), 0)

    def decode(p: Column) -> Column:
        key = F.regexp_extract(p, rf"^({_KEYC}+)", 1)
        rest = F.regexp_extract(p, rf"^{_KEYC}+[ ]*=[ \t]*(.*)$", 1)
        # type annotation: first [: \t] occurrence being ':' marks a
        # type token; it is consumed (and discarded, like the
        # reference parser which never emits varbind_type)
        val = F.when(
            rest.rlike(r"^[^: \t]*:"),
            F.regexp_replace(rest, r"^[^: \t]*:[ ]*", ""),
        ).otherwise(rest)
        return F.struct(key.alias("key"), str_repr_decode(val).alias("value"))

    return F.transform(spans, decode)


def snmptrapd_parser(
    df: DataFrame,
    src_col: str = "text",
    prefix: str = ".snmp.",
    out_col: str = "snmp",
    set_message: bool = False,
) -> DataFrame:
    """Adds ``snmp_ok`` (header parsed; the reference drops failing
    records — filter on it for drop semantics), ``snmp_ts``
    (timestamp), ``program`` ("snmptrapd" on parsed rows), ``out_col``
    (map of prefixed, ':'-normalized keys) and, with ``set_message``,
    ``snmp_message`` (the $MESSAGE the set-message-macro(yes) option
    generates: "key='value', ..." with un-prefixed keys and
    \\-escaped apostrophes/backslashes)."""
    src = F.col(src_col)
    nl = F.instr(src, "\n")
    is_v1 = (nl > 0) & (F.substring(src, nl + 1, 1) == "\t")
    # one framed match of the detected version's header (groups 1-3
    # share numbering; 4-7 exist in the v1 header only)
    hdr = "__snmp_hdr"
    df = with_matches(df, {
        hdr: F.when(is_v1, match_groups(src, _V1_RE)).otherwise(match_groups(src, _V2_RE)),
    })
    ok = matched(F.col(hdr))
    g = partial(group, F.col(hdr))

    ent = F.nullif(g(4), F.lit(""))  # enterprise oid is optional
    lines = F.split(src, "\n")
    vb_line = F.when(
        ok, F.coalesce(F.try_element_at(lines, F.when(is_v1, 3).otherwise(2)),
                       F.lit(""))
    )

    def entry(name: str, value: Column) -> Column:
        return F.struct(F.lit(name).alias("key"), value.alias("value"))

    hdr_entries = F.filter(
        F.array(
            entry("hostname", g(2)),
            entry("transport_info", g(3)),
            entry("enterprise_oid", F.when(is_v1, ent)),
            entry("type", F.when(is_v1, g(5))),
            entry("subtype", F.when(is_v1, g(6))),
            entry("uptime", F.when(is_v1, g(7))),
        ),
        lambda e: e["value"].isNotNull(),
    )
    entries = F.concat(hdr_entries, _varbind_entries(vb_line))

    prefixed = F.transform(
        entries,
        lambda e: F.struct(
            # normalize AFTER prefixing like _get_formatted_key: runs
            # of ':' collapse to a single '_'
            F.regexp_replace(F.concat(F.lit(prefix), e["key"]), ":+", "_").alias(
                "key"
            ),
            e["value"].alias("value"),
        ),
    )
    out = df.withColumns(
        {
            "snmp_ok": ok,
            "snmp_ts": F.when(ok, parse_date(g(1), ("yyyy-MM-dd HH:mm:ss",))),
            "program": F.when(ok, F.lit("snmptrapd")),
            out_col: F.when(ok, entries_to_map(prefixed)),
        }
    )
    if set_message:
        esc = lambda v: F.regexp_replace(v, r"([\\'])", r"\\$1")  # noqa: E731
        out = out.withColumn(
            "snmp_message",
            F.when(
                ok,
                F.array_join(
                    F.transform(
                        entries,
                        lambda e: F.concat(
                            e["key"], F.lit("='"), esc(e["value"]), F.lit("'")
                        ),
                    ),
                    ", ",
                ),
            ),
        )
    return out.drop(hdr)
