"""Generic kv-scanner: quoted values, configurable separators, stray
words — pure column algebra.

Reference: lib/scanner/kv-scanner/kv-scanner.c:1-388 (+ kv-parser.c),
semantics ported from lib/scanner/kv-scanner/tests/test_kv_scanner.c:

  - keys are runs of [A-Za-z0-9._-]; spaces allowed before the value
    separator ("key = v"); keyless words never start a pair
  - a value is either a single/double-quoted str-repr string (quotes
    stripped, escapes decoded by templates.str_repr_decode,
    `was_quoted` set) or an unquoted run
    that ABSORBS spaces and words until a space followed by another
    `key=`, the pair separator, or end of input ("foo=bar lorem
    ipsum key=value" -> foo = "bar lorem ipsum")
  - an unclosed quote is taken literally
  - the pair separator (default ", ") also terminates values
  - words before the first pair are stray words (dropped, or
    collected comma-joined like str_repr via kv_stray_words)

Spark-first: ONE regexp_extract_all pass finds the pair spans; key /
value / str-repr decode are per-element expressions over the short
extracted strings. No Python per row; Java regex supports the
lookahead the value-absorption rule needs (keep kv oracle fixtures
lookahead-free, DuckDB's RE2 cannot mirror it).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_KEY = r"[A-Za-z0-9._-]+"
# kv_stray_words' pair-span marker. IN-BAND contract (like
# matchgroups.py's framing bytes), ENFORCED below: kv_stray_words
# strips a literal \x02 from its input before using it as a marker, so
# hostile/binary input loses the STX byte instead of garbling the
# words. Pair values never see the marker: str_repr_decode uses none.
_BS = "\x02"
# A double- (QUOTED) or single-quoted (SQUOTED) value with backslash
# escapes, written as possessive runs between escapes: an alternation
# under '*' costs Java's regex engine one stack frame per character and
# overflows the task's stack (a fatal error) at a few thousand.
# QUOTED_BODY is the text between the double quotes.
QUOTED_BODY = r'[^"\\]*+(?:\\.[^"\\]*+)*+'
QUOTED = f'"{QUOTED_BODY}"'
SQUOTED = r"'[^'\\]*+(?:\\.[^'\\]*+)*+'"


def _skip_regex(vs: str, ps: str) -> str:
    """Leading spaces after the value separator are skipped UNLESS a
    delimiter follows them (kv-scanner.c _skip_initial_spaces +
    _match_delimiter): all-or-nothing via the [ ] in the lookahead."""
    return rf"(?:[ ]+(?![ ]|$|{_KEY}[ ]*{vs}|{ps}))?"


def _pair_regex(value_separator: str = "=", pair_separator: str = ", ") -> str:
    """Group-0 regex matching one key[=]value pair span."""
    vs = re.escape(value_separator)
    ps = re.escape(pair_separator)
    # unquoted: non-greedy absorption until pair-sep / space+next-key /
    # space+pair-sep / trailing spaces / end (kv-scanner.c _match_delimiter)
    unq = rf".*?(?={ps}|[ ]+(?:$|{_KEY}[ ]*{vs}|{ps})|$)"
    return rf"{_KEY}[ ]*{vs}{_skip_regex(vs, ps)}(?:{QUOTED}|{SQUOTED}|{unq})"


def kv_scan(
    text: Column,
    value_separator: str = "=",
    pair_separator: str = ", ",
) -> Column:
    """text -> array<struct<key, value, was_quoted>> in input order;
    a quoted value decodes through templates.str_repr_decode."""
    from axosyslog_spark.functions.templates import str_repr_decode

    vs = re.escape(value_separator)
    ps = re.escape(pair_separator)
    spans = F.regexp_extract_all(text, F.lit(_pair_regex(value_separator, pair_separator)), 0)

    def decode(p: Column) -> Column:
        key = F.regexp_extract(p, f"^({_KEY})", 1)
        raw = F.regexp_extract(p, f"(?s)^{_KEY}[ ]*{vs}{_skip_regex(vs, ps)}(.*)$", 1)
        quoted = raw.rlike(f"^(?:{QUOTED}|{SQUOTED})$")
        return F.struct(
            key.alias("key"),
            str_repr_decode(raw).alias("value"),
            quoted.alias("was_quoted"),
        )

    return F.transform(spans, decode)


def kv_stray_words(
    text: Column,
    value_separator: str = "=",
    pair_separator: str = ", ",
) -> Column:
    """KVSSWM_COLLECT analog: input minus the pair spans, leftover
    words comma-joined (kv-scanner.c _extract_stray_word). A literal
    \\x02 in the input is stripped first — it's the span marker."""
    leftover = F.regexp_replace(
        F.replace(text, F.lit(_BS), F.lit("")),
        _pair_regex(value_separator, pair_separator),
        _BS,
    )
    words = F.filter(
        F.split(leftover, rf"(?:{re.escape(pair_separator)}|[ ]|{_BS})+"),
        lambda w: w != "",
    )
    return F.array_join(words, ",")


# audit fields the kernel hex-encodes when they contain specials
# (modules/kvformat/linux-audit-parser.c hexcoded_fields)
AUDIT_HEXCODED_FIELDS = (
    "name", "proctitle", "path", "dir", "comm", "ocomm", "data", "old", "new",
)


def linux_audit_parse(
    df: DataFrame, src_col: str = "text", out_col: str = "audit"
) -> DataFrame:
    """linux-audit-parser(): audit kv lines into a map, with

      - ``msg=audit(EPOCH.FRAC:SERIAL):`` split into ``audit_ts`` /
        ``audit_serial`` columns
      - hex-encoded values of the well-known fields decoded when the
        decoded bytes contain a char the kernel would have encoded
        (space/control/quote — linux-audit-parser.c
        _parse_linux_audit_hexstring)

    Pure column algebra over the generic kv scanner.
    """
    df = kv_parse(df, src_col, out_col, pair_separator=" ")
    m = F.col(out_col)

    def dec(k: Column, v: Column) -> Column:
        is_hex = v.rlike("^(?:[0-9A-Fa-f]{2})+$") & (F.length(v) >= 2)
        decoded = F.decode(F.unhex(v), "UTF-8")
        would_encode = decoded.rlike(r'[^\x21-\x7e]|"')
        return F.when(
            k.isin(*AUDIT_HEXCODED_FIELDS) & is_hex & would_encode, decoded
        ).otherwise(v)

    msg = F.element_at(m, F.lit("msg"))
    return df.withColumns(
        {
            out_col: F.transform_values(m, dec),
            "audit_ts": F.timestamp_seconds(
                F.regexp_extract(msg, r"^audit\(([0-9]+\.[0-9]+):", 1).try_cast(
                    "double"
                )
            ),
            "audit_serial": F.regexp_extract(
                msg, r"^audit\([0-9.]+:([0-9]+)\)", 1
            ).try_cast("bigint"),
            "audit_type": F.element_at(m, F.lit("type")),
        }
    )


def entries_to_map(entries: Column) -> Column:
    """array<struct<key,value>> -> map<string,string> with LAST
    occurrence of a duplicate key winning (repeated NV-set calls
    overwrite in the reference's kv-scanner / log-msg).

    ``F.map_from_entries`` is NOT a drop-in here: Spark's default
    ``spark.sql.mapKeyDedupPolicy=EXCEPTION`` makes one duplicate key
    abort the whole job (DUPLICATED_MAP_KEY) — e.g. a netfilter ICMP
    line whose bracketed inner header repeats SRC=/DST=.

    Order matters too: the reference's NVTable overwrites IN PLACE, so
    the map keeps first-occurrence ORDER with last-occurrence VALUE
    (the CEF/LEEF formatters re-emit extensions in map order, which
    round-trips only under this ordering). O(k²) per row in the pair
    count, but k is tens at most for every log format we parse.

    The fold reads ``entries`` inside per-element lambdas, so it binds
    ``entries`` to one lambda variable first: the producing expression
    (a scan, a flatten) then runs once per row, not once per element."""

    def fold(es: Column) -> Column:
        uniq = F.filter(
            es,
            lambda e, i: F.size(
                F.filter(F.slice(es, 1, i), lambda p: p["key"] == e["key"])
            )
            == 0,
        )
        return F.map_from_entries(
            F.transform(
                uniq,
                lambda e: F.struct(
                    e["key"].alias("key"),
                    F.element_at(
                        F.filter(es, lambda p: p["key"] == e["key"]), -1
                    )["value"].alias("value"),
                ),
            )
        )

    return F.transform(F.array(entries), fold)[0]


def kv_pairs_to_map(pairs: Column, prefix: str = "") -> Column:
    """kv_scan() output -> dup-safe map (last wins), optional key
    prefix like the driver's prefix() option."""
    key = (
        (lambda p: F.concat(F.lit(prefix), p["key"]))
        if prefix
        else (lambda p: p["key"])
    )
    return entries_to_map(
        F.transform(
            pairs,
            lambda p: F.struct(
                key(p).alias("key"), p["value"].alias("value")
            ),
        )
    )


def kv_parse(
    df: DataFrame,
    src_col: str = "text",
    out_col: str = "kv",
    value_separator: str = "=",
    pair_separator: str = ", ",
    prefix: str = "",
    stray_words_to: str | None = None,
) -> DataFrame:
    """kv-parser() analog: MapType column of the scanned pairs
    (duplicate keys: last wins, matching repeated NV set calls).
    ``prefix`` namespaces keys like the driver's prefix() option."""
    pairs = kv_scan(F.col(src_col), value_separator, pair_separator)
    out = df.withColumn(out_col, kv_pairs_to_map(pairs, prefix))
    if stray_words_to:
        out = out.withColumn(
            stray_words_to,
            kv_stray_words(F.col(src_col), value_separator, pair_separator),
        )
    return out
