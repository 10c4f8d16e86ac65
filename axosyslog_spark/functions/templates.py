"""Column kernels behind the template compiler, and macros.

``functions/template_compiler.py`` is the only implementation of the
``$(fn)`` language (registry modules/basicfuncs/basic-funcs.c:76-150);
a kernel lives here only when the compiler, an operator or a query
calls it as a Column builder, and then the compiler's ``$(fn)`` calls
the same kernel. Also here: value-pairs formatters (the one JSON-object
encoder behind format-json/format-flat-json, format-welf,
graphite-output), the CEF/CIM/stardate Column builders
(no ``$(...)`` name) and the date-part macro family
(lib/template/macros.c:94-204: S_/R_/C_ x DATE/ISODATE/YEAR/...).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from axosyslog_spark.operators.kvscan import QUOTED, SQUOTED

# ---------------------------------------------------------------------------
# string funcs (modules/basicfuncs/str-funcs.c)
# ---------------------------------------------------------------------------

def tf_length(c: Column) -> Column: return F.length(c)                    # $(length)


def tf_substr(c: Column, pos: int, n: int | None = None) -> Column:
    """$(substr msg offset [length]) — 0-based like the reference
    (modules/basicfuncs/str-funcs.c tf_substr): negative offset counts
    from the end, negative length truncates from the end, out-of-range
    clamps to the string."""
    ln = F.length(c)
    start0 = (
        F.greatest(ln + F.lit(pos), F.lit(0)) if pos < 0 else F.least(F.lit(pos), ln)
    )
    avail = ln - start0
    if n is None:
        eff = avail
    elif n < 0:
        eff = F.greatest(avail + F.lit(n), F.lit(0))
    else:
        eff = F.least(F.lit(n), avail)
    return F.substring(c, start0 + 1, eff)


def tf_uppercase(c: Column) -> Column: return F.upper(c)                  # $(uppercase)


def tf_sanitize(
    c: Column,
    replacement: str = "_",
    invalid_chars: str = "/",
    ctrl_chars: bool = True,
) -> Column:
    """$(sanitize) — str-funcs.c tf_sanitize: replace the invalid-char
    set (-i, default '/') and, unless -C, control chars, each with the
    -r replacement (default '_')."""
    cls = "[" + re.escape(invalid_chars) + ("\x00-\x1f]" if ctrl_chars else "]")
    return F.regexp_replace(c, cls, replacement)


def tf_replace_delimiter(c: Column, from_chars: str, to: str) -> Column:
    """$(replace-delimiter)"""
    return F.translate(c, from_chars, to * len(from_chars))


def tf_padding(c: Column, width: int, pad: str = " ") -> Column:
    """$(padding) — left-pad to width."""
    return F.lpad(c, width, pad)


# ---------------------------------------------------------------------------
# context funcs (modules/basicfuncs/context-funcs.c, cond-funcs.c
# $(grep)) — operate on a collected-context array column (the batch
# analog of the correlation context's message list)
# ---------------------------------------------------------------------------


_C_ESCAPES = (("\b", "\\b"), ("\f", "\\f"), ("\n", "\\n"),
              ("\r", "\\r"), ("\t", "\\t"))


def _c_escape(c: Column, quote: bool = False) -> Column:
    """lib/utf8utils.c _append_escaped_utf8_character_ascii: backslash
    doubles, the named control chars get their C escapes; inside a
    double-quoted value '\"' is additionally escaped
    (AUTF8_UNSAFE_QUOTE). str-repr and $(format-welf) share it."""
    e = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    for ch, rep in _C_ESCAPES:
        e = F.replace(e, F.lit(ch), F.lit(rep))
    return F.replace(e, F.lit('"'), F.lit('\\"')) if quote else e


def str_repr_encode(c: Column, forbidden: str = ",") -> Column:
    """lib/str-repr/encode.c str_repr_encode_append: the syslog-ng
    list-element encoding. Empty -> '""'; an element containing an
    apostrophe (or both quote kinds) is double-quoted with backslash
    escapes; quote-only elements are apostrophe-quoted; elements with
    whitespace/control/backslash or a forbidden char (the list
    delimiter) are double-quoted; plain text passes through."""
    c = c.cast("string")
    dq = F.concat(F.lit('"'), _c_escape(c, True), F.lit('"'))
    sq = F.concat(F.lit("'"), _c_escape(c), F.lit("'"))
    needs = c.rlike("[\\x08\\x0c\\n\\r\\t\\\\ " + re.escape(forbidden) + "]")
    return (
        F.when(c.isNull() | (c == ""), F.lit('""'))
        .when(c.contains("'"), dq)          # both-quotes case folds in here
        .when(c.contains('"'), sq)
        .when(needs, dq)
        .otherwise(c)
    )


def str_repr_py(s: str) -> str:
    """Plan-time mirror of str_repr_encode for strings the plan already
    knows ($(names), the XML walker's list values)."""
    if s == "":
        return '""'
    esc = s.replace("\\", "\\\\")
    for ch, rep in _C_ESCAPES:
        esc = esc.replace(ch, rep)
    if "'" in s:
        return '"' + esc.replace('"', '\\"') + '"'
    if '"' in s:
        return "'" + esc + "'"
    if any(c in s for c in "\b\f\n\r\t\\ ,"):
        return '"' + esc.replace('"', '\\"') + '"'
    return s


def str_repr_decode(c: Column) -> Column:
    """The inverse of str_repr_encode for one element (lib/str-repr/
    decode.c): a token wholly in double or single quotes loses them,
    and its escapes decode: \\b \\f \\n \\r \\t to their control
    characters, and \\X to X for any other X (\\\\, \\", \\'). Any other
    token passes through. No marker byte: the body splits on its
    escaped backslashes, each piece decodes alone, and the pieces join
    with one backslash."""
    body = F.substring(c, 2, F.length(c) - 2)

    def piece(p: Column) -> Column:
        for ch, rep in _C_ESCAPES:
            p = F.replace(p, F.lit(rep), F.lit(ch))
        return F.regexp_replace(p, r"\\(.)", "$1")

    decoded = F.array_join(F.transform(F.split(body, r"\\\\"), piece), "\\")
    return F.when(c.rlike(f"^(?:{QUOTED}|{SQUOTED})$"), decoded).otherwise(c)


def list_repr(values: Column) -> Column:
    """Render an array<string> as the syslog-ng comma list
    (str_repr_encode_append per element, ',' joined) — the LM_VT_LIST
    wire form $(grep)/$(context-values) emit."""
    # single-arg lambda: transform would otherwise bind the element
    # INDEX to str_repr_encode's `forbidden` parameter
    return F.array_join(F.transform(values, lambda e: str_repr_encode(e)), ",")


def tf_context_length(ctx: Column) -> Column:
    """$(context-length) — number of messages in the context
    (context-funcs.c tf_context_length_call, prints num_messages)."""
    return F.size(ctx).cast("string")


def tf_context_values(ctx: Column, value_fns=None) -> Column:
    """$(context-values $nv...) — every message's rendered values as
    one encoded comma list (context-funcs.c tf_context_values_call)."""
    if value_fns:
        vals = F.flatten(F.transform(
            ctx, lambda e: F.array(*[fn(e).cast("string") for fn in value_fns])
        ))
    else:
        vals = ctx
    return list_repr(vals)


def tf_grep(ctx: Column, cond, value_fns=None, max_count: int = 0) -> Column:
    """$(grep [--max-count N] cond $nv...) — values from the context
    messages matching the condition, as an encoded comma list
    (cond-funcs.c tf_grep_call; --max-count bounds MATCHING MESSAGES,
    each of which emits all its value templates).
    $(context-lookup) shares this implementation
    (context-funcs.c uses tf_grep_prepare + the same loop)."""
    hits = F.filter(ctx, cond)
    if max_count:
        hits = F.slice(hits, 1, max_count)
    return tf_context_values(hits, value_fns)


# ---------------------------------------------------------------------------
# path funcs (fname-funcs.c)
# ---------------------------------------------------------------------------

def tf_basename(c: Column) -> Column:
    return F.element_at(F.split(c, "/"), -1)


def tf_dirname(c: Column) -> Column:
    return F.when(
        c.contains("/"), F.regexp_extract(c, r"^(.*)/[^/]*$", 1)
    ).otherwise(F.lit("."))


# ---------------------------------------------------------------------------
# ip funcs (ip-funcs.c)
# ---------------------------------------------------------------------------

def tf_ipv4_to_int(c: Column) -> Column:
    from axosyslog_spark.operators.filters import ip_to_long

    return ip_to_long(c)


# ---------------------------------------------------------------------------
# encode funcs (misc-funcs.c)
# ---------------------------------------------------------------------------

def tf_base64_encode(c: Column) -> Column: return F.base64(c.cast("binary"))


# ---------------------------------------------------------------------------
# crypto funcs (modules/cryptofuncs/)
# ---------------------------------------------------------------------------

def tf_sha256(c: Column, length: int | None = None) -> Column:
    h = F.sha2(c.cast("binary"), 256)
    return F.substring(h, 1, length) if length else h


def tf_md4(c: Column) -> Column:
    """$(md4) — cryptofuncs.c. MD4 left the JVM and OpenSSL; this is
    the RFC 1320 implementation (functions/md4.py) behind an
    Arrow-batched pandas UDF. Parity path only — never hot."""
    import pandas as pd  # noqa: PLC0415

    from axosyslog_spark.functions.md4 import md4_hex  # noqa: PLC0415

    _md4 = F.pandas_udf(
        lambda s: s.fillna("").map(lambda v: md4_hex(v.encode())),
        "string",
    )
    return _md4(c.cast("string"))


def tf_md5(c: Column) -> Column: return F.md5(c.cast("binary"))


# ---------------------------------------------------------------------------
# format funcs
# ---------------------------------------------------------------------------

def json_order(pairs):
    """format-json's one pair order, reverse-lexicographic at every
    level (tf_flat_value_pairs_sort, format-json.c:459: strcmp(s2,
    s1)). Plan-time names (a dict) sort here; a runtime
    map<string,string> Column sorts its entries in the plan, with its
    NULL values dropped, and stays a map (a JSON object when encoded)."""
    if isinstance(pairs, dict):
        return {k: pairs[k] for k in sorted(pairs, reverse=True)}
    present = F.filter(F.map_entries(pairs), lambda e: e["value"].isNotNull())
    return F.map_from_entries(F.reverse(F.array_sort(present)))


def format_json(pairs, flat: bool = False) -> Column:
    """The one JSON-object encoder (modules/json/format-json.c): NULL
    values (and names bound to None) are omitted and pairs follow
    ``json_order``. ``pairs`` is
    either plan-time named Columns, where a dotted name nests into
    objects unless ``flat`` ($(format-flat-json), format-json.c:465-480
    tf_flat_json_append), or a runtime map<string,string> Column, whose
    keys stay flat because the plan cannot see them. A value that is
    itself a runtime map goes through ``json_order`` first. A nested
    name that is another's dotted prefix (``a`` and ``a.b``) is a
    TemplateError naming both, whatever their order."""
    if not isinstance(pairs, dict):
        return F.to_json(json_order(pairs))
    names = sorted(k for k, col in pairs.items() if col is not None)
    clash = None if flat else next((
        (k, m) for k in names for m in names if m.startswith(k + ".")
    ), None)
    if clash:
        from axosyslog_spark.functions.template_compiler import TemplateError

        raise TemplateError(
            "format-json: %r is both a value and the object of %r" % clash
        )
    tree: dict = {}
    for k in names:
        col = pairs[k]
        *path, leaf = [k] if flat else k.split(".")
        d = tree
        for p in path:
            d = d.setdefault(p, {})
        d[leaf] = col

    def emit(d: dict) -> Column:
        return F.struct(*[
            (emit(v) if isinstance(v, dict) else v).alias(k)
            for k, v in json_order(d).items()
        ])

    return F.to_json(emit(tree), {"ignoreNullFields": "true"})


def format_welf(named_cols: dict[str, Column]) -> Column:
    """$(format-welf) — k=v space-joined; keys sorted with 'id' first
    (tf_format_welf_strcmp); a value containing a space is wrapped in
    double quotes with escaped internals, otherwise emitted bare with
    control-char escapes (modules/kvformat/format-welf.c:55-74)."""
    parts = []
    for k in sorted(named_cols, key=lambda k: (k != "id", k)):
        v = named_cols[k].cast("string")
        rendered = F.when(
            v.contains(" "),
            F.concat(F.lit('"'), _c_escape(v, True), F.lit('"')),
        ).otherwise(_c_escape(v))
        parts.append(F.concat(F.lit(f"{k}="), rendered))
    return F.concat_ws(" ", *parts)


def format_graphite(m: Column, ts: Column) -> Column:
    """$(graphite-output) over a map column — one graphite plaintext
    line per pair: ``name value unixtime\\n`` including the trailing
    newline (modules/graphite/graphite-output.c
    tf_graphite_foreach_func); keys sorted for determinism (the
    reference iterates value-pairs in sorted order)."""
    unixtime = F.unix_timestamp(ts).cast("string")
    lines = F.transform(
        F.array_sort(F.map_entries(m)),
        lambda e: F.concat(
            e["key"], F.lit(" "), e["value"], F.lit(" "), unixtime, F.lit("\n")
        ),
    )
    return F.array_join(lines, "")


def tf_stardate(c: Column, digits: int = 2) -> Column:
    """$(stardate [--digits N] $UNIXTIME) — modules/stardate/stardate.c:
    calendar year + the TRUNCATED fraction of the (leap-aware) year
    elapsed, printed with exactly N decimals (%0.*lf)."""
    if not 0 <= digits <= 9:
        raise ValueError("stardate: digits must be between 0-9")
    t = c.cast("string").try_cast("bigint")
    ts = F.timestamp_seconds(t)
    yr = F.year(ts)
    start = F.unix_timestamp(F.trunc(ts, "year").cast("timestamp"))
    leap = ((yr % 4 == 0) & (yr % 100 != 0)) | (yr % 400 == 0)
    year_secs = F.when(leap, F.lit(31622400)).otherwise(F.lit(31536000))
    p = 10 ** digits
    frac = F.floor((t - start) / year_secs * p) / p
    return F.format_string(f"%.{digits}f", yr + frac)


_CEF_KEY_RE = "^[A-Za-z0-9]+$"


def format_cef_extension(named_cols: dict[str, Column]) -> Column:
    """format_cef_extension_map over plan-time named columns."""
    return format_cef_extension_map(F.create_map(
        *[x for k, c in named_cols.items() for x in (F.lit(k), c.cast("string"))]
    ))


def format_cef_extension_map(pairs: Column) -> Column:
    """format-cef-extension (modules/cef/format-cef-extension.c) over a
    map<string,string> NV column: keys sorted (strcmp walk), through
    the one extension encoder (cef.format_extension), space-joined.
    Non-alphanumeric keys are skipped like the reference's non-drop
    on-error path (it logs and walks on)."""
    from axosyslog_spark.operators.cef import format_extension

    entries = F.array_sort(F.map_entries(pairs))
    return format_extension(
        F.filter(entries, lambda e: e["key"].rlike(_CEF_KEY_RE)), " "
    )


def format_cim(
    pairs: Column, timestamp: Column, message: Column
) -> Column:
    """$(format-cim) — scl/cim/template.conf: format-json over the CIM
    value-pairs spec re-expressed as map algebra:

      --pair @timestamp=${R_ISODATE} --pair @message=${MSG}
      --key .cim.* --shift 5   (``.cim.foo`` -> ``foo``)
      --key _*  --key *.*      (kept as-is)
      --key .*  --replace-prefix .=_  (``.foo`` -> ``_foo``)

    ``pairs`` is the open-schema NV map; output is ``format_json`` over
    the runtime map (reverse-lexicographic keys, flat). String-typed
    values (the map is map<string,string>; --auto-cast numeric
    unquoting is not applied)."""
    cim = F.transform_keys(
        F.map_filter(pairs, lambda k, v: k.startswith(".cim.")),
        lambda k, v: F.substring(k, 6, 2_000_000_000),
    )
    dotted = F.transform_keys(
        F.map_filter(
            pairs,
            lambda k, v: k.startswith(".") & ~k.startswith(".cim."),
        ),
        lambda k, v: F.concat(F.lit("_"), F.substring(k, 2, 2_000_000_000)),
    )
    plain = F.map_filter(
        pairs,
        lambda k, v: ~k.startswith(".")
        & (k.startswith("_") | k.contains(".")),
    )
    from axosyslog_spark.operators.kvscan import entries_to_map

    # entries-level merge + fold: a renamed dotted key colliding with
    # a plain '_'-key must overwrite, not abort (map_concat throws
    # under the default dedup policy). entries_to_map is
    # last-value-wins, so list the weakest source first: builtins <
    # plain < cim < dotted — only a renamed dotted key can collide with
    # a plain '_'-key, and it must win. format_json orders the
    # now-unique keys.
    merged = F.concat(
        F.map_entries(
            F.create_map(
                F.lit("@timestamp"), timestamp.cast("string"),
                F.lit("@message"), message.cast("string"),
            )
        ),
        F.map_entries(plain), F.map_entries(cim), F.map_entries(dotted),
    )
    return format_json(entries_to_map(merged))


# ---------------------------------------------------------------------------
# macros (lib/template/macros.c) — date part family over a ts column
# ---------------------------------------------------------------------------

_MACRO_FMT = {
    "DATE": "MMM dd HH:mm:ss",
    "ISODATE": "yyyy-MM-dd'T'HH:mm:ssXXX",
    "FULLDATE": "yyyy MMM dd HH:mm:ss",
    "YEAR": "yyyy",
    "YEAR_DAY": "DDD",
    "MONTH": "MM",
    "MONTH_WEEK": "W",
    "MONTH_NAME": "MMMM",
    "DAY": "dd",
    "HOUR": "HH",
    "HOUR12": "hh",
    "AMPM": "a",
    "MIN": "mm",
    "SEC": "ss",
    "WEEKDAY": "EEE",
    "WEEK_DAY_NAME": "EEEE",
    "WEEK_DAY_ABBREV": "EEE",
    "MONTH_ABBREV": "MMM",
    "TZOFFSET": "XXX",
    "TZ": "XXX",
}


def macro(name: str, ts: Column | None = None, **cols: Column) -> Column:
    """Resolve a reference macro name to a Column.

    Time-based macros take the stamp column (S_*), e.g.
    macro('YEAR', ts) / macro('ISODATE', ts); value macros take the
    relevant columns as kwargs (macro('PRI', severity=..., facility=...)).
    """
    if name.startswith(("S_", "R_", "C_", "P_")):
        # the caller picks the matching timestamp column for the base
        # (stamp/recvd/now/processed); the derived name set is shared
        name = name[2:]
    if name in _MACRO_FMT:
        return F.date_format(ts, _MACRO_FMT[name])
    if name == "UNIXTIME":
        return F.unix_timestamp(ts)
    if name == "MSEC":
        return (F.unix_millis(ts) % 1000).cast("string")
    if name == "USEC":
        return (F.unix_micros(ts) % 1_000_000).cast("string")
    if name == "WEEK":
        # macros.c WEEK: (yday - (wday - 1 + 7) % 7 + 7) / 7 with 0-based
        # yday/wday (Monday-based week start). Spark's dayofyear/dayofweek
        # are 1-based (Sunday=1), so yday-1 and (dayofweek-2) mod 7.
        return F.lpad(
            F.floor(
                ((F.dayofyear(ts) - 1) - F.pmod(F.dayofweek(ts) - 2, F.lit(7)) + 7) / 7
            ).cast("string"),
            2, "0",
        )
    if name == "ISOWEEK":
        return F.lpad(F.weekofyear(ts).cast("string"), 2, "0")
    if name == "PRI":
        return (cols["facility"] * 8 + cols["severity"]).cast("string")
    if name == "PRIORITY":  # macros.c: PRIORITY is an alias of SEVERITY
        return macro("SEVERITY", ts, **cols)
    if name == "SDATA":
        # macros.c M_SDATA: the whole STRUCTURED-DATA block re-rendered
        from axosyslog_spark.operators.parse import format_sdata

        return format_sdata(cols["sdata"])
    if name == "SEVERITY_NUM" or name == "LEVEL_NUM":
        return cols["severity"]
    if name == "FACILITY_NUM":
        return cols["facility"]
    if name == "SEVERITY" or name == "LEVEL":
        from axosyslog_spark.operators.filters import SEVERITIES

        expr = F.lit("unknown")
        for i, s in enumerate(SEVERITIES):
            expr = F.when(cols["severity"] == i, F.lit(s)).otherwise(expr)
        return expr
    if name == "FACILITY":
        from axosyslog_spark.operators.filters import FACILITIES

        expr = F.lit("unknown")
        for i, s in enumerate(FACILITIES):
            expr = F.when(cols["facility"] == i, F.lit(s)).otherwise(expr)
        return expr
    if name == "TAGS":
        return F.array_join(cols["tags"], ",")
    if name == "TAG":
        # macros.c M_TAG: pri rendered as 2-digit lowercase hex
        pri = cols["facility"] * 8 + cols["severity"]
        return F.lpad(F.lower(F.hex(pri)), 2, "0")
    if name == "BSDTAG":
        # macros.c M_BSDTAG: severity digit + ('A' + facility) letter
        letters = "ABCDEFGHIJKLMNOPQRSTUVWX"
        return F.concat(
            cols["severity"].cast("string"),
            F.substring(F.lit(letters), cols["facility"].cast("int") + 1, 1),
        )
    if name == "WEEK_DAY":
        # macros.c M_WEEK_DAY: wday+1, Sunday=1 — Spark's dayofweek exactly
        return F.dayofweek(ts).cast("string")
    if name == "MSGHDR":
        # macros.c M_MSGHDR: "program[pid]: " (pid part only when set);
        # empty when there is no program. cols: program, pid.
        prog, pid = cols["program"], cols["pid"]
        pid_part = F.when(
            pid.isNotNull() & (pid != ""), F.concat(F.lit("["), pid, F.lit("]"))
        ).otherwise(F.lit(""))
        return F.when(
            prog.isNotNull() & (prog != ""),
            F.concat(prog, pid_part, F.lit(": ")),
        ).otherwise(F.lit(""))
    if name in ("SOURCEIP", "DESTIP", "PEERIP"):
        # macros.c M_SOURCE_IP/M_DEST_IP: the transport address when the
        # source is an IP, else "127.0.0.1" (local/unix sources).
        # PEERIP prefers an explicitly-set peer value then falls through.
        addr = cols.get({"SOURCEIP": "saddr", "DESTIP": "daddr", "PEERIP": "peerip"}[name])
        fallback = (
            macro("SOURCEIP", ts, **cols) if name == "PEERIP"
            else F.lit("127.0.0.1")
        )
        if addr is None:
            return fallback
        return F.coalesce(addr, fallback)
    if name in ("SOURCEPORT", "DESTPORT", "PEERPORT"):
        port = cols.get(
            {"SOURCEPORT": "sport", "DESTPORT": "dport", "PEERPORT": "peerport"}[name]
        )
        fallback = (
            macro("SOURCEPORT", ts, **cols) if name == "PEERPORT"
            else F.lit("0")
        )
        if port is None:
            return fallback
        return F.coalesce(port.cast("string"), fallback)
    if name == "IP_PROTO":
        # 4/6 from the source address family; 0 when no address
        addr = cols.get("saddr")
        if addr is None:
            return F.lit("0")
        return (
            F.when(addr.isNull(), F.lit("0"))
            .when(
                addr.contains(":") & ~addr.startswith("::ffff:"), F.lit("6")
            )
            .otherwise(F.lit("4"))
        )
    if name == "PROTO":
        proto = cols.get("proto")
        return F.lit("0") if proto is None else F.coalesce(proto.cast("string"), F.lit("0"))
    if name == "PROTO_NAME":
        proto = cols.get("proto")
        if proto is None:
            return F.lit("unknown")
        return (
            F.when(proto == 6, F.lit("tcp"))
            .when(proto == 17, F.lit("udp"))
            .otherwise(F.lit("unknown"))
        )
    if name == "RAWMSG_SIZE":
        # msg->recvd_rawmsg_size: octet length of the wire message when
        # raw capture is on, else 0. cols: raw (string) or rawmsg_size.
        if "rawmsg_size" in cols:
            return cols["rawmsg_size"].cast("string")
        if "raw" in cols:
            return F.coalesce(F.octet_length(cols["raw"]).cast("string"), F.lit("0"))
        return F.lit("0")
    if name == "SYSUPTIME":
        # centiseconds since daemon start — wall-clock-dependent; bind an
        # uptime_cs column or default 0 for deterministic batch output
        up = cols.get("uptime_cs")
        return F.lit("0") if up is None else up.cast("string")
    if name == "HOSTID":
        # persisted 32-bit host id rendered %08x
        hid = cols.get("hostid")
        return F.lit("00000000") if hid is None else F.lpad(F.lower(F.hex(hid)), 8, "0")
    if name == "RUNID":
        rid = cols.get("runid")
        return F.lit("0") if rid is None else rid.cast("string")
    raise KeyError(f"unknown macro {name!r}")

