"""CEF / LEEF event-format parsers and the one extension encoder.

Reference: modules/cef/filterx-func-parse-cef.c, filterx-func-parse-leef.c,
event-format-parser.c, format-cef-extension.c.

CEF:  CEF:version|vendor|product|device_version|event_class|name|severity|ext
LEEF: LEEF:1.0|vendor|product|version|event_id|ext (tab-separated)
      LEEF:2.0|vendor|product|version|event_id|delimiter|ext

Each format is parsed once (``_cef``, ``_leef``, over the one header
tokenizer ``_header``); the DataFrame operators and the FilterX
builtins are two projections of that parse (``_frame``, ``_fx_map``).
Extension entries fold through kvscan.entries_to_map: the last
occurrence of a key wins, where map_from_entries would abort the job.
The other direction is written once too: ``format_extension`` (with
``cef_escape``) renders the extension for $(format-cef-extension) and
the FilterX format_cef()/format_leef() builtins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from axosyslog_spark.operators.kvscan import entries_to_map, kv_scan

# One header field: '\|' (a pipe) and '\\' (a backslash) are escapes;
# any other character but an unescaped '|' stands for itself. Written
# as runs between escapes (possessive), so a long field costs Java's
# regex engine no recursion per character.
_FIELD = r"[^\\|]*+(?:\\.[^\\|]*+)*+"


def _header(body: Column, n: int) -> tuple[Column, Column]:
    """The one header tokenizer: (the first n '|'-terminated fields of
    body, unescaped; the text after them, as written). Fewer fields
    when body holds fewer than n unescaped pipes, so a short or foreign
    line is "not this format", never a job abort."""
    cut = rf"(?s)^((?:{_FIELD}\|){{0,{n}}})(.*)"
    # every match inside the head ends on its pipe: none is empty
    fields = F.regexp_extract_all(
        F.regexp_extract(body, cut, 1), F.lit(rf"(?s)({_FIELD})\|"), 1
    )
    unescaped = F.transform(fields, lambda f: F.regexp_replace(f, r"\\([\\|])", "$1"))
    return unescaped, F.regexp_extract(body, cut, 2)


def _ext_entries(ext: Column, pair_re: Column) -> Column:
    """LEEF extension -> array<struct<key,value>>: split on the pair
    delimiter regex, the first '=' separates key from value (no '=' ->
    NULL value), empty tokens dropped."""
    toks = F.transform(
        F.filter(F.split(ext, pair_re), lambda t: t != ""), lambda t: F.split(t, "=", 2)
    )
    return F.transform(
        toks,
        lambda kv: F.struct(
            kv[0].alias("key"), F.try_element_at(kv, F.lit(2)).alias("value")
        ),
    )


def _cef(src: Column) -> tuple[Column, list[Column], Column]:
    """The one CEF parse: (ok, the 7 header values, extension entries).
    The extension goes through the kv-scanner (filterx-func-parse-cef.c
    cef_cfg): an unquoted value absorbs following words without '='."""
    hdr, ext = _header(F.substr(src, F.lit(5)), 7)
    ok = src.startswith("CEF:") & (F.size(hdr) == 7)
    pairs = F.transform(kv_scan(ext), lambda p: p.dropFields("was_quoted"))
    return ok, [F.try_element_at(hdr, F.lit(i)) for i in range(1, 8)], pairs


def _leef(src: Column) -> tuple[Column, list[Column], Column]:
    """The one LEEF parse: (ok, the 5 header values, extension
    entries). LEEF 1.0 separates extensions with a tab; LEEF 2.0 names
    its delimiter in an extra header field: a literal char, 'x26' or
    '0x26' hex, or empty for tab (filterx-func-parse-leef.c:43-76)."""
    hdr, rest = _header(F.substr(src, F.lit(6)), 5)
    vals = [F.try_element_at(hdr, F.lit(i)) for i in range(1, 6)]
    is20 = vals[0].startswith("2.")
    dfield, ext20 = _header(rest, 1)
    d = F.try_element_at(dfield, F.lit(1))
    hexpart = F.regexp_extract(d, r"^(?:0[xX]|[xX])([0-9A-Fa-f]{2})$", 1)
    delim = (
        F.when(d == "", F.lit("\t"))
        .when(hexpart != "", F.char(F.conv(hexpart, 16, 10).cast("int")))
        .when(F.length(d) == 1, d)
    )
    ok = src.startswith("LEEF:") & (F.size(hdr) == 5) & (~is20 | delim.isNotNull())
    # 1.0: everything after the 5th pipe is the extension
    ext = F.when(is20, ext20).otherwise(rest)
    pair_re = F.when(is20, F.concat(F.lit(r"\Q"), delim, F.lit(r"\E"))).otherwise(
        F.lit("\t")
    )
    return ok, vals, _ext_entries(ext, pair_re)


def _frame(df: DataFrame, fmt: str, names: tuple, parsed: tuple) -> DataFrame:
    """DataFrame projection: ``<fmt>_ok``, the header columns and the
    ``<fmt>_ext`` map; NULLs when the row is not this format."""
    ok, hdr, ext = parsed
    cols = {n: F.when(ok, v) for n, v in zip(names, hdr)}
    ext_map = F.when(ok, entries_to_map(ext))
    return df.withColumns({f"{fmt}_ok": ok, **cols, f"{fmt}_ext": ext_map})


def _fx_map(names: tuple, parsed: tuple) -> Column:
    """FilterX projection: one map of header + extension entries (an
    extension key overwrites a same-named header key); NULL when the
    row is not this format."""
    ok, hdr, ext = parsed
    entries = F.array(
        *[F.struct(F.lit(n).alias("key"), v.alias("value")) for n, v in zip(names, hdr)]
    )
    return F.when(ok, entries_to_map(F.concat(entries, ext)))


CEF_HEADER_FIELDS = (
    "cef_version", "vendor", "product", "device_version",
    "event_class", "event_name", "cef_severity",
)
LEEF_HEADER_FIELDS = ("leef_version", "vendor", "product", "firmware", "event_id")


def parse_cef(df: DataFrame, src_col: str = "text") -> DataFrame:
    """Parse CEF lines; non-CEF rows get nulls + cef_ok=false."""
    return _frame(df, "cef", CEF_HEADER_FIELDS, _cef(F.col(src_col)))


def parse_leef(df: DataFrame, src_col: str = "text") -> DataFrame:
    """Parse LEEF 1.0/2.0 lines; non-LEEF rows get nulls + leef_ok=false."""
    return _frame(df, "leef", LEEF_HEADER_FIELDS, _leef(F.col(src_col)))


# ---------------------------------------------------------------------------
# FilterX builtin shapes: Column -> map<string,string> / inverse
# (modules/cef/filterx-func-parse-cef.c, filterx-func-parse-leef.c,
#  filterx-func-format-cef.c, filterx-func-format-leef.c)
# ---------------------------------------------------------------------------

# dict keys the filterx parse_cef()/parse_leef() builtins emit
# (cef_fields[] filterx-func-parse-cef.c:30-39,
#  leef_fields[] filterx-func-parse-leef.c:171-176)
CEF_FX_FIELDS = (
    "cef_version", "device_vendor", "device_product", "device_version",
    "device_event_class_id", "event_name", "agent_severity",
)
LEEF_FX_FIELDS = (
    "leef_version", "vendor_name", "product_name", "product_version",
    "event_id",
)


def parse_cef_fx(src: Column) -> Column:
    """filterx parse_cef(): the 7 header fields + the extension pairs
    as one map<string,string>. NULL when not a CEF line."""
    return _fx_map(CEF_FX_FIELDS, _cef(src))


def parse_leef_fx(src: Column) -> Column:
    """filterx parse_leef(): the 5 header fields + the extension pairs
    as one map<string,string>. NULL when not a LEEF line."""
    return _fx_map(LEEF_FX_FIELDS, _leef(src))


def _escape_hdr(c: Column) -> Column:
    return F.regexp_replace(c.cast("string"), r"([|\\])", r"\\$1")


def cef_escape(c: Column) -> Column:
    """The one CEF extension value escape (format-cef-extension.c
    tf_cef_append_escaped): backslash first, then '=', LF, CR; other
    control chars < 0x20 become \\uXXXX."""
    c = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit("="), F.lit("\\="))
    c = F.replace(c, F.lit("\n"), F.lit("\\n"))
    c = F.replace(c, F.lit("\r"), F.lit("\\r"))
    for i in [*range(0, 10), 11, 12, *range(14, 32)]:
        c = F.replace(c, F.lit(chr(i)), F.lit("\\u%04x" % i))
    return c


def format_extension(entries: Column, sep: str) -> Column:
    """The one CEF/LEEF extension encoder: ``key=value`` per entry of an
    array<struct<key,value>>, the value through ``cef_escape``, joined
    by ``sep``; an entry with a NULL value is skipped."""
    return F.array_join(
        F.transform(
            entries, lambda e: F.concat(e["key"], F.lit("="), cef_escape(e["value"]))
        ),
        sep,
    )


def _format_event_fx(m: Column, sig: str, fields: tuple, ext_sep: str) -> Column:
    hdr = F.concat_ws(
        "|", *[_escape_hdr(F.coalesce(F.element_at(m, f), F.lit(""))) for f in fields]
    )
    ext_entries = F.filter(
        F.map_entries(m), lambda e: ~e["key"].isin(*fields)
    )
    return F.concat(F.lit(sig), hdr, F.lit("|"), format_extension(ext_entries, ext_sep))


def format_cef_fx(m: Column) -> Column:
    """filterx format_cef(dict): inverse of parse_cef_fx — named header
    keys (| and \\ escaped) then the remaining keys as space-separated
    k=v extensions in map order (event-format-formatter.c), values
    CEF-escaped."""
    return _format_event_fx(m, "CEF:", CEF_FX_FIELDS, " ")


def format_leef_fx(m: Column) -> Column:
    """filterx format_leef(dict): LEEF 1.0 form, tab-separated
    extensions."""
    return _format_event_fx(m, "LEEF:", LEEF_FX_FIELDS, "\t")
