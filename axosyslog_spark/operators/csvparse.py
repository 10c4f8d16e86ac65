"""csv-parser(): delimited split into named, typed columns.

Reference: modules/csvparser/csvparser.c + lib/scanner/csv-scanner/
csv-scanner.c. Options mirrored: columns (names + type hints,
csvparser.h:30-41), delimiters, quote pairs, null-value, greedy
(last column swallows the rest), strip-whitespace, drop-invalid
(row must fill every column unless greedy).

Spark mapping: `_fields` is the one field tokenizer (one
`regexp_extract_all` whose field regex knows the quote pairs, escape
dialect and delimiters; a bounded `split` under greedy). `csv_columns`
reads the spec's columns from it, behind csv_parse and FilterX
parse_csv(text, columns); `csv_tokens` lists every field, behind
FilterX parse_csv(text).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class CsvColumn:
    name: str
    cast: str | None = None  # spark type name (type hints, csvparser.h:30-41)


@dataclass(frozen=True)
class CsvSpec:
    columns: tuple[CsvColumn, ...]
    delimiter: str = ","
    quote: str | None = '"'
    null_value: str | None = None
    greedy: bool = False          # last column takes the rest of the line
    strip: bool = False           # strip whitespace around fields
    drop_invalid: bool = True     # parse_ok=False when the column count
    # mismatches (short OR long, like the scanner) or a type hint fails
    prefix: str = ""
    # csv-scanner quoting breadth (functional-suite options):
    #   quotes("~^")      — a SET of symmetric quote characters
    #   quote-pairs("><") — consecutive (open, close) character pairs
    # Fields wrapped in a configured pair may hold delimiters; they
    # are unwrapped and their escape dialect decoded.
    quotes: str | None = None
    quote_pairs: str | None = None
    # delimiters(strings("^^^", "~~~")) — multi-character delimiter
    # alternatives (any of them splits)
    delimiter_strings: tuple[str, ...] = ()
    # escape-none | escape-backslash | escape-backslash-with-sequences
    # | escape-double-char | escape-unquoted-delimiter (csv-scanner.c
    # dialect enum) — how a field escapes a quote or a delimiter
    dialect: str = "escape-backslash"


def csv_parse(df: DataFrame, spec: CsvSpec, src_col: str = "text") -> DataFrame:
    """Apply the csv spec; adds one column per spec column plus
    ``csv_ok`` (the drop-invalid signal — filter on it to drop)."""
    vals, ok = csv_columns(F.col(src_col), spec)
    cols = {spec.prefix + c.name: v for c, v in zip(spec.columns, vals)}
    return df.withColumns({**cols, "csv_ok": ok})


def csv_columns(src: Column, spec: CsvSpec) -> tuple[list[Column], Column]:
    """The one field extraction: (one value per spec column, ok). ok is
    the drop-invalid verdict (always true without drop_invalid); a
    missing column is NULL, an empty field is ''."""
    n = len(spec.columns)
    parts = _fields(src, spec)
    # the scanner discards BOTH short and long rows (greedy's limit
    # already caps size at n, so == is the one check for both modes)
    ok = F.size(parts) == n if spec.drop_invalid else F.lit(True)
    vals = []
    for i, c in enumerate(spec.columns):
        val = _unquote(F.try_element_at(parts, F.lit(i + 1)), spec)
        posted = _post(val, c, spec)
        if spec.drop_invalid and c.cast:
            # type-hint mismatch discards the row (on-type-error(drop))
            ok = ok & (val.isNull() | posted.isNotNull())
        vals.append(posted)
    return vals, ok


def csv_tokens(src: Column, spec: CsvSpec) -> Column:
    """Every field of the line as array<string> (no column list),
    unquoted and decoded like a column value."""
    return F.transform(_fields(src, spec), lambda t: _unquote(t, spec))


def _fields(src: Column, spec: CsvSpec) -> Column:
    """The one field tokenizer: the line's fields as written. A field
    wrapped in a configured quote pair and followed by a delimiter or
    the end may hold delimiters. Greedy is a split bounded at the
    column count that ignores quotes: the last field takes the rest of
    the line."""
    delims = spec.delimiter_strings or (spec.delimiter,)
    sep = "|".join(re.escape(s) for s in delims)
    if spec.dialect == "escape-unquoted-delimiter":
        # csv-scanner.c CSV_SCANNER_ESCAPE_UNQUOTED_DELIMITER: a
        # backslash protects ONLY the delimiter in unquoted fields
        # ('\|' is a literal '|', '\z' stays '\z'). Split at
        # unescaped delimiters, unescape inside each field. (An
        # escaped backslash directly before a delimiter would need an
        # even-backslash-count guard Java's bounded lookbehind cannot
        # express — documented drift for that corner.)
        sep = r"(?<!\\)(?:" + sep + ")"
    if spec.greedy:
        parts = F.split(src, sep, len(spec.columns))
    else:
        quoted = [
            rf"{re.escape(o)}{_quoted_body(c, spec.dialect)}{re.escape(c)}(?=(?:{sep})|\z)"
            for o, c in _quote_pairs(spec)
        ]
        field = "|".join([*quoted, rf"(?:(?!{sep}).)*"])
        # one delimiter goes in front, so every match starts with a
        # delimiter: no match is empty, and Matcher.find (which steps
        # one character past an empty match) never skips a field
        lined = F.concat(F.lit(delims[0]), src)
        parts = F.regexp_extract_all(lined, F.lit(rf"(?s)(?:{sep})({field})"), 1)
    if spec.dialect == "escape-unquoted-delimiter":
        unesc = F.lit("\\" + spec.delimiter)
        parts = F.transform(
            parts, lambda p: F.replace(p, unesc, F.lit(spec.delimiter))
        )
    return parts


def _quoted_body(close: str, dialect: str) -> str:
    """Regex for the inside of a quoted field: what may stand between
    the quotes under the escape dialect (decoded by _decode_escapes)."""
    # runs between escapes (possessive): no regex recursion per character
    c = re.escape(close)
    if dialect == "escape-none":
        return rf"[^{c}]*+"
    if dialect == "escape-double-char":
        return rf"[^{c}]*+(?:{c}{c}[^{c}]*+)*+"
    return rf"[^{c}\\]*+(?:\\.[^{c}\\]*+)*+"


def _quote_pairs(spec: CsvSpec) -> list[tuple[str, str]]:
    pairs: list[tuple[str, str]] = []
    if spec.quotes:
        pairs += [(q, q) for q in spec.quotes]
    if spec.quote_pairs:
        qp = spec.quote_pairs
        if len(qp) % 2:
            raise ValueError("quote-pairs needs an even-length string")
        pairs += [(qp[i], qp[i + 1]) for i in range(0, len(qp), 2)]
    if not pairs and spec.quote:
        pairs = [(spec.quote, spec.quote)]
    return pairs


def _decode_escapes(inner: Column, close: str, dialect: str) -> Column:
    if dialect == "escape-none":
        return inner
    if dialect == "escape-double-char":
        return F.replace(inner, F.lit(close * 2), F.lit(close))
    if dialect == "escape-backslash-with-sequences":
        # csv-scanner.c: \xNN hex bytes decode first (an invalid hex
        # pair just drops its backslash via the generic rule below),
        # then the named C sequences, then anything else drops its
        # backslash
        hex_head = r"\\x[0-9A-Fa-f]{2}"
        segs = F.split(inner, r"(?<!\\)(?=" + hex_head + ")")
        inner = F.array_join(
            F.transform(
                segs,
                lambda p: F.when(
                    p.rlike("^" + hex_head),
                    F.concat(
                        F.decode(F.unhex(F.substring(p, 3, 2)), "UTF-8"),
                        F.substr(p, F.lit(5)),
                    ),
                ).otherwise(p),
            ),
            "",
        )
        for ch, rep in (
            ("a", "\a"), ("b", "\b"), ("f", "\f"), ("n", "\n"),
            ("r", "\r"), ("t", "\t"), ("v", "\v"),
        ):
            inner = F.regexp_replace(inner, r"(?<!\\)\\" + ch, rep)
        return F.regexp_replace(inner, r"\\(.)", "$1")
    # escape-backslash: backslash quotes the next char verbatim
    return F.regexp_replace(inner, r"\\(.)", "$1")


def _unquote(val: Column, spec: CsvSpec) -> Column:
    """Strip a configured quote pair off a field and decode the
    dialect's escapes."""
    out = val
    inner = F.substring(val, 2, F.length(val) - 2)
    for o, c in reversed(_quote_pairs(spec)):
        quoted = (F.length(val) >= 2) & val.startswith(o) & val.endswith(c)
        out = F.when(quoted, _decode_escapes(inner, c, spec.dialect)).otherwise(out)
    return out


def _post(val: Column, c: CsvColumn, spec: CsvSpec) -> Column:
    if spec.strip:
        val = F.trim(val)
    if spec.null_value is not None:
        val = F.nullif(val, F.lit(spec.null_value))
    if c.cast:
        # try_cast: a type-hint mismatch is data, not a crash — it
        # nulls (on-type-error(drop-property)) and, under drop_invalid,
        # discards the row (csv_parse folds it into csv_ok)
        val = val.try_cast(c.cast)
    return val
