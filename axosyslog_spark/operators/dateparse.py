"""date-parser(): strptime with multiple candidate formats + timezone.

Reference: modules/timestamp/date-parser.c (format list tried in
order, first hit wins; optional explicit timezone). Spark mapping:
``coalesce(try_to_timestamp(fmt1), try_to_timestamp(fmt2), ...)`` —
one projection, no UDF; the format list compiles into the plan.

This module is the engine's one text-to-timestamp parse (every SCL
block, snmptrapd, the RFC3164 header and FilterX ``strptime()`` call
``parse_date``) and its one C ``%``-format converter (``$(format-date)``
and FilterX ``strftime()``/``strptime()`` call ``strftime_to_spark``).
The RFC5424 header's ``msg_ts`` in ``parse.parse_header`` is the one
exception: its length dispatch is tuned for the flagship hot path.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# common syslog-world formats (date-parser defaults + RFC flavors).
# '[.SSS]' is an optional fraction (1-3 digits), so each entry covers
# the stamp with and without millis; ',SSS' is the log4j /
# java.util.logging millis form (test_date.c
# date_with_multiple_formats).
DEFAULT_FORMATS = (
    "yyyy-MM-dd'T'HH:mm:ss[.SSS]XXX",  # ISO with offset
    "yyyy-MM-dd'T'HH:mm:ss[.SSS]",     # RFC5424 (no offset)
    "yyyy-MM-dd HH:mm:ss,SSS",         # log4j comma-millis
    "yyyy-MM-dd HH:mm:ss[.SSS]",
    "MMM d HH:mm:ss",                  # RFC3164 (no year)
    "yyyy/MM/dd HH:mm:ss",
    "dd/MMM/yyyy:HH:mm:ss Z",          # CLF with offset (%d/%b/%Y:%T %z)
    "dd/MMM/yyyy:HH:mm:ss",            # CLF
    "yyyy-MM-dd",
)

# sentinel format: '%s' — seconds since epoch (optionally '%s %z',
# where the offset only re-labels the wall clock; the instant is the
# same). date-parser.c supports it via strptime's %s.
UNIX_FMT = "unix"


def parse_date(
    src: Column,
    formats: tuple[str, ...] = DEFAULT_FORMATS,
    timezone: str | None = None,
) -> Column:
    """First-match timestamp across the format list (NULL if none)."""
    candidates = [
        F.timestamp_seconds(src.try_cast("bigint"))
        if fmt == UNIX_FMT
        else F.try_to_timestamp(src, F.lit(fmt))
        for fmt in formats
    ]
    ts = F.coalesce(*candidates)
    if timezone:
        ts = F.to_utc_timestamp(ts, timezone)
    return ts


def date_parser(
    df: DataFrame,
    src_col: str,
    out_col: str = "parsed_ts",
    formats: tuple[str, ...] = DEFAULT_FORMATS,
    timezone: str | None = None,
) -> DataFrame:
    return df.withColumn(out_col, parse_date(F.col(src_col), formats, timezone))


# C strftime/strptime %-directive -> Spark datetime pattern: the
# subset the reference's $(format-date) and FilterX strptime()/
# strftime() traffic uses (lib/filterx/func-strptime.c delegates to
# wall-clock strptime). %f is microseconds (1-6 digits when parsing).
_C_DIRECTIVES = {
    "Y": "yyyy", "y": "yy", "m": "MM", "d": "dd", "e": "d", "H": "HH",
    "I": "hh", "M": "mm", "S": "ss", "f": "SSSSSS", "b": "MMM",
    "B": "MMMM", "a": "EEE", "A": "EEEE", "j": "DDD", "p": "a",
    "z": "XX", "Z": "zzz", "F": "yyyy-MM-dd", "T": "HH:mm:ss", "%": "%",
}
# a literal chunk holding a pattern letter, a quote or one of Spark's
# reserved pattern characters ('[' ']' optional sections, '{' '}' '#')
# is quoted whole, with each ' doubled
_NEEDS_QUOTE = re.compile(r"[A-Za-z'\[\]{}#]")


def strftime_to_spark(fmt: str) -> str:
    """Translate a C ``%``-format to a Spark datetime pattern. Raises
    ValueError on a directive outside the supported subset; a trailing
    lone ``%`` stays literal."""
    out: list[str] = []
    lit: list[str] = []

    def flush_lit() -> None:
        if lit:
            chunk = "".join(lit)
            if _NEEDS_QUOTE.search(chunk):
                chunk = "'" + chunk.replace("'", "''") + "'"
            out.append(chunk)
            lit.clear()

    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            key = fmt[i + 1]
            if key not in _C_DIRECTIVES:
                raise ValueError(f"unsupported date directive %{key} in {fmt!r}")
            flush_lit()
            out.append(_C_DIRECTIVES[key])
            i += 2
            continue
        lit.append(fmt[i])
        i += 1
    flush_lit()
    return "".join(out)
