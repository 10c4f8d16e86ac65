"""Template-string compiler: ``"${HOST} $(sha256 ${MSG})"`` -> Column.

Reference: lib/template/compiler.c:1-461 (tokenizer), macros
lib/template/macros.c:50-230, simple template functions
modules/basicfuncs/*.c. Behaviors mirrored from
lib/template/tests/test_template_compile.c:

  - ``$NAME``      unbraced ref, name chars = [A-Za-z0-9_]
  - ``${NAME}``    braced ref (any chars except ':'/'}'), with
                   ``${NAME:-default}`` default-value syntax
  - ``$1``..``$n`` regexp match group refs, ``$0`` = whole match,
                   ``$*`` = all matches comma-joined
  - ``$(fn a b)``  template function; args split on top-level spaces,
                   single/double quotes group (and are stripped at the
                   top level), nested parens stay in one arg,
                   backslash escapes the next char
  - ``$$`` -> literal '$'; ``$`` + other char -> literal
  - ``${X}@N`` / ``$(fn)@N`` correlation msg_ref suffix: with a bound
    context (ctx.context_entries) a value ref resolves against the
    addressed context message — @0 = newest, counting backward,
    out-of-range -> empty (eval.c:173-188); without a context the
    current row is addressed; ``@@`` -> '@'

Spark-first: compilation happens ONCE at plan time on the driver; the
output is a single Column expression (concat of parts), so rendering
stays inside whole-stage codegen — no Python per row.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F

from axosyslog_spark.functions import templates as tf
from axosyslog_spark.operators.dateparse import strftime_to_spark
from axosyslog_spark.operators.filters import typed_cmp
from axosyslog_spark.operators.kvscan import QUOTED, SQUOTED
from axosyslog_spark.operators.rewrite import value_pairs


def _value_pairs(raw_args, ctx) -> dict[str, Column]:
    """The value-pairs set of $(format-json), $(format-flat-json),
    $(format-welf), $(values) and $(names): the explicit k=v pairs,
    then the rewrite.value_pairs selection over the context's bound
    names in sorted order (keys rekey at compile time)."""
    selected, pairs = value_pairs(raw_args, sorted(ctx.columns))
    out = {k: compile_template(v, ctx) for k, v in pairs}
    out.update((k, ctx.columns[n]) for k, n in selected)
    return out


# ---------------------------------------------------------------------------
# syslog-ng comma lists (LM_VT_LIST): parse/render column helpers.
# Elements may be str-repr quoted ("a\tb", 'has"quote') — scanner.c's
# list form. Structural empties between commas vanish (an EMPTY
# element is only representable as '""').
# ---------------------------------------------------------------------------

_LIST_ELEM_RE = f"{QUOTED}|{SQUOTED}|[^,]+"


def _list_parse(c: Column) -> Column:
    """string -> array<string> of DECODED elements."""
    parts = F.regexp_extract_all(c.cast("string"), F.lit(_LIST_ELEM_RE), 0)
    return F.transform(parts, tf.str_repr_decode)


def _list_of_args(args) -> Column:
    """Each argument parses as a list; lists concatenate (the C funcs
    accept any number of list-valued args)."""
    if not args:
        return F.array().cast("array<string>")
    arrs = [_list_parse(a.col) for a in args]
    out = arrs[0]
    for a in arrs[1:]:
        out = F.concat(out, a)
    return out


def _py_slice_bounds(spec: str):
    a, _, b = spec.partition(":")
    return (int(a) if a else None), (int(b) if b else None)

class TemplateError(ValueError):
    pass


# ---------------------------------------------------------------------------
# tokenizer (compiler.c:log_template_compiler_compile)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Lit:
    text: str


@dataclass(frozen=True)
class ValueRef:
    name: str
    default: str | None = None
    msg_ref: int = 0


@dataclass(frozen=True)
class FuncCall:
    argv: tuple[str, ...]
    msg_ref: int = 0


_NAME_CHARS = re.compile(r"[A-Za-z0-9_]")


def _parse_msg_ref(s: str, i: int) -> tuple[int, int]:
    """compiler.c:parse_msg_ref — optional ``@N`` / ``@@`` suffix."""
    if i < len(s) and s[i] == "@":
        j = i + 1
        if j < len(s) and s[j].isdigit():
            n = 0
            while j < len(s) and s[j].isdigit():
                n = n * 10 + int(s[j])
                j += 1
            return n + 1, j
        if j < len(s) and s[j] == "@":
            return 0, j  # '@@' collapses to one literal '@'
    return 0, i


def _parse_arg_list(s: str, i: int) -> tuple[list[str], int]:
    """compiler.c:log_template_compiler_process_arg_list. ``i`` points
    at '('; returns (argv, index after ')')."""
    argv: list[str] = []
    buf: list[str] = []
    has_value = False
    parens = 1
    i += 1
    while i < len(s) and s[i].isspace():
        i += 1
    while i < len(s):
        c = s[i]
        if c == "\\":
            i += 1
            if i < len(s):
                buf.append(s[i])
                has_value = True
                i += 1
            continue
        if c == "(":
            parens += 1
        elif c == ")":
            parens -= 1
            if parens == 0:
                break
        elif c in "\"'":
            end = s.find(c, i + 1)
            if end < 0:
                raise TemplateError(f"unterminated quote in arg list: {s!r}")
            if parens == 1:
                buf.append(s[i + 1 : end])  # top level: strip quotes
            else:
                buf.append(s[i : end + 1])  # nested: keep them
            has_value = True
            i = end + 1
            continue
        elif parens == 1 and c.isspace():
            argv.append("".join(buf))
            buf.clear()
            has_value = False
            while i < len(s) and s[i].isspace():
                i += 1
            continue
        buf.append(c)
        has_value = True
        i += 1
    if parens != 0:
        raise TemplateError(f"imbalanced parens in template function: {s!r}")
    if has_value:
        argv.append("".join(buf))
    return argv, i + 1


def tokenize(template: str) -> list[Lit | ValueRef | FuncCall]:
    elems: list[Lit | ValueRef | FuncCall] = []
    text: list[str] = []

    def flush() -> None:
        if text:
            elems.append(Lit("".join(text)))
            text.clear()

    i = 0
    n = len(template)
    while i < n:
        c = template[i]
        if c != "$":
            text.append(c)
            i += 1
            continue
        i += 1
        p = template[i] if i < n else ""
        if p == "{":
            end = template.find("}", i)
            if end < 0:
                raise TemplateError("invalid macro, '}' is missing")
            inner = template[i + 1 : end]
            i = end + 1
            name, default = inner, None
            colon = inner.find(":")
            if colon >= 0:
                token = inner[colon + 1 :]
                if not token.startswith("-"):
                    raise TemplateError(
                        f"unknown substitution function in ${{{inner}}}"
                    )
                name, default = inner[:colon], token[1:]
            msg_ref, i = _parse_msg_ref(template, i)
            flush()
            elems.append(ValueRef(name, default, msg_ref))
        elif p == "(":
            argv, i = _parse_arg_list(template, i)
            msg_ref, i = _parse_msg_ref(template, i)
            flush()
            if argv:
                elems.append(FuncCall(tuple(argv), msg_ref))
        elif p == "*":
            i += 1
            flush()
            elems.append(ValueRef("*"))
        elif _NAME_CHARS.match(p or " "):
            j = i
            while j < n and _NAME_CHARS.match(template[j]):
                j += 1
            flush()
            elems.append(ValueRef(template[i:j]))
            i = j
        else:
            # '$$' -> '$'; '$x' -> literal '$x'; trailing '$' -> '$'
            if p != "$":
                text.append("$")
            if p:
                text.append(p)
            i += 1
    flush()
    return elems


# ---------------------------------------------------------------------------
# evaluation context
# ---------------------------------------------------------------------------

_DATE_MACROS = frozenset(
    list(tf._MACRO_FMT)
    + ["UNIXTIME", "MSEC", "USEC", "WEEK", "ISOWEEK", "WEEK_DAY", "STAMP"]
)
_PRI_MACROS = frozenset(
    ["PRI", "SEVERITY", "SEVERITY_NUM", "LEVEL", "LEVEL_NUM", "FACILITY",
     "FACILITY_NUM", "PRIORITY"]
)
# header/network/identity macros (macros.c:207-230) resolved through
# tf.macro with bindings pulled from the context's columns; unbound
# network sources render the reference's non-IP-transport fallbacks
# (127.0.0.1 / 0), matching a locally-generated message
_HDR_MACROS = frozenset(
    [
        "MSGHDR", "TAG", "BSDTAG",
        "SOURCEIP", "SOURCEPORT", "DESTIP", "DESTPORT", "PEERIP", "PEERPORT",
        "IP_PROTO", "PROTO", "PROTO_NAME", "RAWMSG_SIZE",
        "SYSUPTIME", "HOSTID", "RUNID",
    ]
)
# context-column name -> tf.macro kwarg for _HDR_MACROS
_HDR_BINDINGS = {
    "SEVERITY_NUM": "severity", "FACILITY_NUM": "facility",
    "PROGRAM": "program", "PID": "pid",
    "SADDR": "saddr", "DADDR": "daddr", "SPORT": "sport", "DPORT": "dport",
    "PEER_IP": "peerip", "PEER_PORT": "peerport", "PROTO_NUM": "proto",
    "RAWMSG": "raw", "RAWMSG_SIZE_COL": "rawmsg_size",
    "UPTIME_CS": "uptime_cs", "HOSTID_NUM": "hostid", "RUNID_VAL": "runid",
}


@dataclass
class TemplateContext:
    """Name -> Column resolution for one frame.

    columns:   explicit bindings (builtin macros HOST/PROGRAM/... and
               any promoted field)
    stamp:     event timestamp (S_* + unprefixed date macros)
    recvd:     receive timestamp (R_*)
    now:       processing timestamp (C_*); defaults to recvd for
               deterministic batch output (document: the reference's
               C_* reads the wall clock)
    matches:   array<string> of the last match's groups ($0 = whole)
    extras:    map<string,string> fallback for open-schema names
    strict:    raise on unresolvable names instead of empty-string
    field_fallback: resolve unknown names as frame columns F.col(name)
               (used when templates are compiled against a known frame,
               e.g. PipelineSpec route conditions / derived columns)
    """

    columns: dict[str, Column] = field(default_factory=dict)
    stamp: Column | None = None
    recvd: Column | None = None
    now: Column | None = None
    processed: Column | None = None
    matches: Column | None = None
    extras: Column | None = None
    strict: bool = False
    field_fallback: bool = False
    # correlation-context message list (array<struct> column) + its
    # struct field names — enables $(context-length)/$(context-values)/
    # $(context-lookup)/$(grep), which iterate the context's messages
    # (context-funcs.c / cond-funcs.c). None outside a context-close
    # frame, where those functions are a compile error like the
    # reference outside grouping/PatternDB correlation.
    context_entries: Column | None = None
    context_entry_fields: tuple[str, ...] = ()
    # named-template registry (cfg_tree_lookup_template analog) for
    # $(template name); and the deterministic hosts mapping
    # (dns-cache-hosts analog) for $(dns-resolve-ip)
    templates: dict[str, str] = field(default_factory=dict)
    dns_hosts: dict[str, str] | None = None

    def _ts_for(self, name: str) -> tuple[str, Column | None]:
        if name.startswith("S_"):
            return name[2:], self.stamp
        if name.startswith("R_"):
            return name[2:], self.recvd
        if name.startswith("C_"):
            return name[2:], self.now if self.now is not None else self.recvd
        if name.startswith("P_"):
            # M_PROCESSED_OFS: the processing stamp; falls back through
            # now -> recvd for deterministic batch output
            for c in (self.processed, self.now, self.recvd):
                if c is not None:
                    return name[2:], c
            return name[2:], None
        return name, self.stamp

    def resolve_raw(self, name: str) -> Column | None:
        """Column for a value/macro name, or None when unknown."""
        if name == "*":
            if self.matches is None:
                return None
            # $* = matches joined by ',' (macros.c M__ASTERISK)
            return F.array_join(F.slice(self.matches, 2, 255), ",")
        if name.isdigit():
            if self.matches is None:
                return None
            return F.element_at(self.matches, int(name) + 1)
        if name in self.columns:
            return self.columns[name]
        base, ts = self._ts_for(name)
        if base in _DATE_MACROS and ts is not None:
            if base == "STAMP":
                base = "ISODATE"
            return tf.macro(base, ts)
        if base in _PRI_MACROS:
            sev, fac = self.columns.get("SEVERITY_NUM"), self.columns.get("FACILITY_NUM")
            if sev is not None or fac is not None:
                return tf.macro(base, None, severity=sev, facility=fac)
        if name in _HDR_MACROS:
            kw = {
                dst: self.columns[src]
                for src, dst in _HDR_BINDINGS.items()
                if src in self.columns
            }
            return tf.macro(name, self.stamp, **kw)
        if name == "TAGS" and "TAGS" in self.columns:
            return self.columns["TAGS"]
        if name == "SDATA" and "SDATA_MAP" in self.columns:
            # macros.c M_SDATA: re-render the whole STRUCTURED-DATA
            # block from the dotted .SDATA.* map column
            return tf.macro("SDATA", None, sdata=self.columns["SDATA_MAP"])
        if self.field_fallback and name and not name.isdigit():
            return F.col(name)
        if self.extras is not None:
            return F.element_at(self.extras, F.lit(name))
        return None

    def resolve(self, name: str, default: str | None = None) -> Column:
        raw = self.resolve_raw(name)
        if raw is None:
            if self.strict:
                raise TemplateError(f"unresolvable template name {name!r}")
            raw = F.lit(None).cast("string")
        return F.coalesce(raw.cast("string"), F.lit(default if default is not None else ""))


# ---------------------------------------------------------------------------
# template functions adapted to the string-arg calling convention
# ---------------------------------------------------------------------------


@dataclass
class Arg:
    raw: str
    col: Column
    lit: str | None  # set when the raw arg held no template refs

    def as_int(self, what: str) -> int:
        if self.lit is None:
            raise TemplateError(f"{what} must be a literal, got {self.raw!r}")
        return int(self.lit)


def _num(c: Column) -> Column:
    return c.cast("string").try_cast("double")


def _int64(c: Column) -> Column:
    return c.cast("string").try_cast("bigint")


def _fmt_num(d: Column) -> Column:
    """Render a double like the reference's %g-ish integer fast path:
    whole numbers inside the bigint range print without a trailing .0;
    any other value prints as the double's string."""
    i = d.try_cast("bigint")
    return F.when(d.isNull(), F.lit("NaN")).otherwise(
        F.when(d == i.cast("double"), i.cast("string")).otherwise(d.cast("string"))
    )


def _arith(op: str, args: list[Arg]) -> Column:
    """$(+ a b) family — numeric-funcs.c: gint64 arithmetic when BOTH
    operands parse as integers, double arithmetic (incl. '.25' and
    '5e-1' forms) when they only parse as doubles; 'NaN' on parse
    failure, on division/modulo by zero AND on gint64 overflow (the
    try_ forms; plain ANSI bigint arithmetic would abort the job);
    integer division truncates; double results render without a
    trailing .0."""
    sa, sb = args[0].col.cast("string"), args[1].col.cast("string")
    ia, ib = sa.try_cast("bigint"), sb.try_cast("bigint")
    da, db = sa.try_cast("double"), sb.try_cast("double")
    int_mode = ia.isNotNull() & ib.isNotNull()

    if op == "+":
        ri, rd = F.try_add(ia, ib), da + db
    elif op == "-":
        ri, rd = F.try_subtract(ia, ib), da - db
    elif op == "*":
        ri, rd = F.try_multiply(ia, ib), da * db
    elif op == "/":
        # exact gint64 division, truncating toward zero; MIN / -1
        # overflows
        fits = (ib != 0) & ~((ia == -(2**63)) & (ib == -1))
        ri = F.when(fits, F.call_function("div", ia, ib))
        rd = F.when(db != 0.0, F.try_divide(da, db))
    else:  # % — fmod() in double mode
        ri = F.when(ib != 0, ia % ib)
        rd = F.when(db != 0.0, da % db)
    return (
        F.when(int_mode, F.when(ri.isNull(), F.lit("NaN")).otherwise(ri.cast("string")))
        .when(da.isNotNull() & db.isNotNull(), _fmt_num(rd))
        .otherwise(F.lit("NaN"))
    )


_CMP_OPS = ("<=", ">=", "==", "!=", "<", ">", "eq", "ne", "lt", "le", "gt", "ge")


def _split_top_level(s: str, word: str) -> list[str] | None:
    """Split on a boolean keyword at TOP level (outside quotes and
    parens); None when the keyword never appears there."""
    parts: list[str] = []
    depth = 0
    q: str | None = None
    i = 0
    last = 0
    needle = f" {word} "
    while i < len(s):
        c = s[i]
        if q:
            if c == q:
                q = None
        elif c in "\"'":
            q = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and q is None and s.startswith(needle, i):
            parts.append(s[last:i])
            i += len(needle)
            last = i
            continue
        i += 1
    if not parts:
        return None
    parts.append(s[last:])
    return parts


def parse_condition(cond: str, ctx: TemplateContext) -> Column:
    """$(if) condition: comparisons composed with top-level and/or/not
    (filter-expr grammar subset), operands are templates (usually
    quoted). Type-aware ops use the string/bytewise rule the reference
    applies to two string-typed values (filter-cmp.c rule 1);
    eq/ne/lt/... are the classic string operators."""
    s = cond.strip()
    if s.startswith("(") and s.endswith(")"):
        s = s[1:-1].strip()
    ors = _split_top_level(s, "or")
    if ors:
        out = parse_condition(ors[0], ctx)
        for part in ors[1:]:
            out = out | parse_condition(part, ctx)
        return out
    ands = _split_top_level(s, "and")
    if ands:
        out = parse_condition(ands[0], ctx)
        for part in ands[1:]:
            out = out & parse_condition(part, ctx)
        return out
    if s.startswith("not "):
        return ~parse_condition(s[4:], ctx)
    for op in _CMP_OPS:
        # operators are space-delimited in the filter grammar
        m = re.search(rf"\s({re.escape(op)})\s", s)
        if m:
            lhs, rhs = s[: m.start()].strip(), s[m.end() :].strip()
            lq = lhs[1:-1] if lhs[:1] in "\"'" and lhs[-1:] == lhs[:1] else lhs
            rq = rhs[1:-1] if rhs[:1] in "\"'" and rhs[-1:] == rhs[:1] else rhs
            lcol = compile_template(lq, ctx)
            rcol = compile_template(rq, ctx)
            classic = {"eq": "==", "ne": "!=", "lt": "<", "le": "<=", "gt": ">", "ge": ">="}
            if op in classic:
                from axosyslog_spark.operators.filters import string_cmp

                return string_cmp(lcol, rcol, classic[op])
            return typed_cmp(lcol, "string", rcol, "string", op)
    raise TemplateError(f"unsupported $(if) condition: {cond!r}")


def _apply_context_func(
    name: str, raw_args: list[str], ctx: TemplateContext
) -> Column:
    """$(context-length)/$(context-values)/$(context-lookup)/$(grep):
    iterate ctx.context_entries (the correlation context's message
    array). Value templates and the grep condition compile against a
    PER-ELEMENT frame (each struct field becomes a binding), so the
    whole evaluation stays one higher-order-function expression —
    no explode, no shuffle."""
    if ctx.context_entries is None:
        raise TemplateError(
            f"$({name}) needs a correlation context (grouping-by / "
            "PatternDB context close frame)"
        )
    entries = ctx.context_entries
    if name == "context-length":
        return tf.tf_context_length(entries)

    max_count = 0
    while raw_args and raw_args[0].startswith(("-m", "--max-count")):
        opt = raw_args.pop(0)
        val = opt.split("=", 1)[1] if "=" in opt else raw_args.pop(0)
        max_count = int(val)

    def elem_ctx(e: Column) -> TemplateContext:
        cols = {f: e[f] for f in ctx.context_entry_fields}
        stamp = cols.get("ts", ctx.stamp)
        return TemplateContext(columns=cols, stamp=stamp, recvd=ctx.recvd,
                               now=ctx.now)

    if name in ("grep", "context-lookup"):
        if not raw_args:
            raise TemplateError(f"$({name} [opts] condition $nv ...)")
        cond_src, tmpl_srcs = raw_args[0], raw_args[1:]
        cond = lambda e: parse_condition(cond_src, elem_ctx(e))  # noqa: E731
    else:  # context-values
        cond, tmpl_srcs = None, raw_args
    fns = [
        (lambda src: lambda e: compile_template(src, elem_ctx(e)))(src)
        for src in tmpl_srcs
    ]
    if not fns:
        # zero value templates emit nothing per message (the reference's
        # inner argv loop is empty)
        return F.lit("")
    if cond is None:
        return tf.tf_context_values(entries, fns)
    return tf.tf_grep(entries, cond, fns, max_count)


# loose shapes accepted by g_sockaddr_inet_or_inet6_new's parsers —
# an invalid address makes $(dns-resolve-ip) return empty
_IPV4_RE = r"^(\d{1,3}\.){3}\d{1,3}$"
_IPV6_RE = r"^[0-9A-Fa-f:]*:[0-9A-Fa-f:.]*$"


def _apply_template_func(raw_args: list[str], ctx: TemplateContext) -> Column:
    """$(template name [fallback]) — basicfuncs/tf-template.c: static
    binding when the name resolves in the config's template registry
    at compile time; dynamic when the name itself is a template (has
    '$'), becoming a runtime lookup over the registry (a CASE chain —
    still one codegen'd expression) with the optional fallback
    template when nothing matches."""
    if not raw_args:
        raise TemplateError("$(template name [fallback])")
    name = raw_args[0]
    if name in ctx.templates:  # static binding
        return compile_template(ctx.templates[name], ctx)
    if "$" not in name:
        raise TemplateError(f"$(template): unknown template {name!r}")
    name_col = compile_template(name, ctx)
    out = (
        compile_template(raw_args[1], ctx)
        if len(raw_args) > 1
        else F.lit("")
    )
    for tname, tbody in ctx.templates.items():
        out = F.when(
            name_col == F.lit(tname), compile_template(tbody, ctx)
        ).otherwise(out)
    return out


def _apply_func(call: FuncCall, ctx: TemplateContext) -> Column:
    name = call.argv[0]
    raw_args = list(call.argv[1:])
    if name in ("context-length", "context-values", "context-lookup", "grep"):
        return _apply_context_func(name, raw_args, ctx)
    if name == "env":
        # misc-funcs.c tf_env: config-time getenv per arg; a missing
        # var is skipped; a present non-last arg gets a trailing space
        # (quirk preserved)
        import os

        parts: list[str] = []
        for i, a in enumerate(raw_args):
            val = os.environ.get(a)
            if val is None:
                continue
            parts.append(val + (" " if i < len(raw_args) - 1 else ""))
        return F.lit("".join(parts))
    if name == "template":
        return _apply_template_func(raw_args, ctx)
    if name in ("values", "names"):
        # basicfuncs/vp-funcs.c $(values ...)/$(names ...): render the
        # value-pairs set as an encoded comma list (LM_VT_LIST) of
        # values / names
        pairs = _value_pairs(raw_args, ctx)
        if name == "names":
            # names are compile-time strings — encode plan-side
            return F.lit(",".join(tf.str_repr_py(n) for n in pairs))
        if not pairs:
            return F.lit("")
        return tf.list_repr(F.array(*[c.cast("string") for c in pairs.values()]))
    if name == "dns-resolve-ip":
        # ip-funcs.c tf_dns_resolve_ip with use-dns(persist_only)
        # semantics: resolution consults ONLY the configured hosts
        # mapping (dns-cache-hosts file analog, ctx.dns_hosts) — the
        # deterministic mode; a live-resolver batch would be an enrich
        # broadcast join, not a template function. Unresolved valid
        # IPs render as the IP; invalid addresses render empty.
        while raw_args and raw_args[0].startswith("--"):
            opt = raw_args.pop(0)  # host-resolve options: accepted, no-op
            if "=" not in opt and raw_args and not raw_args[0].startswith("-"):
                # options with separate values not used by persist_only
                pass
        if len(raw_args) != 1:
            raise TemplateError("$(dns-resolve-ip [OPTIONS] IP)")
        ip = compile_template(raw_args[0], ctx)
        valid = ip.rlike(_IPV4_RE) | ip.rlike(_IPV6_RE)
        hosts = ctx.dns_hosts or {}
        resolved = ip
        if hosts:
            lut = F.create_map(*[F.lit(x) for kv in hosts.items() for x in kv])
            resolved = F.coalesce(F.element_at(lut, ip), ip)
        return F.when(valid, resolved).otherwise(F.lit(""))
    args = [
        Arg(a, compile_template(a, ctx), a if "$" not in a else None)
        for a in raw_args
    ]

    def one() -> Column:
        if len(args) != 1:
            raise TemplateError(f"$({name}) takes exactly one argument")
        return args[0].col

    if name == "echo":
        return F.concat_ws(" ", *[a.col for a in args]) if args else F.lit("")
    if name == "length":
        # multi-arg: one length per arg, space-joined; no args -> ""
        if not args:
            return F.lit("")
        return F.concat_ws(
            " ", *[tf.tf_length(a.col).cast("string") for a in args]
        )
    if name == "substr":
        if len(args) < 2:
            raise TemplateError("$(substr msg offset [length])")
        n = args[2].as_int("substr length") if len(args) > 2 else None
        return tf.tf_substr(args[0].col, args[1].as_int("substr offset"), n)
    if name == "strip":
        # str-funcs.c tf_strip: each arg strips independently and
        # EMPTY results drop from the space-joined output
        return F.concat_ws(
            " ", *[F.nullif(F.trim(a.col), F.lit("")) for a in args]
        )
    if name == "lowercase":
        return F.lower(one())
    if name == "uppercase":
        return tf.tf_uppercase(one())
    if name == "sanitize":
        # options (str-funcs.c tf_sanitize_prepare): -r/--replacement
        # CHAR, -i/--invalid-chars SET, -C/--no-ctrl-chars
        s_args = list(args)
        s_raw = list(raw_args)
        repl, invalid, ctrl = "_", "/", True
        while s_raw and s_raw[0].startswith("-"):
            opt = s_raw.pop(0); s_args.pop(0)
            if opt in ("-r", "--replacement"):
                repl = s_raw.pop(0); s_args.pop(0)
            elif opt in ("-i", "--invalid-chars"):
                invalid = s_raw.pop(0); s_args.pop(0)
            elif opt in ("-C", "--no-ctrl-chars"):
                ctrl = False
            else:
                raise TemplateError(f"$(sanitize): unknown option {opt}")
        return F.concat_ws(
            "/",
            *[tf.tf_sanitize(a.col, repl, invalid, ctrl) for a in s_args],
        )
    if name == "padding":
        if len(args) < 2:
            raise TemplateError("$(padding msg width [pad])")
        pad = args[2].lit if len(args) > 2 and args[2].lit else " "
        return tf.tf_padding(args[0].col, args[1].as_int("padding width"), pad)
    if name == "replace-delimiter":
        if len(args) != 3:
            raise TemplateError("$(replace-delimiter from to msg)")
        return tf.tf_replace_delimiter(
            args[2].col, args[0].lit or "", (args[1].lit or " ")[0]
        )
    if name == "if":
        if len(args) != 3:
            raise TemplateError("$(if cond then else)")
        return F.when(parse_condition(raw_args[0], ctx), args[1].col).otherwise(
            args[2].col
        )
    if name == "or":
        return F.coalesce(*[F.nullif(a.col, F.lit("")) for a in args], F.lit(""))
    if name == "tag":
        # $(tag name [if-set [if-unset]]) — boolean "1"/"0" by default
        # (modules/basicfuncs/tf-tag.c tf_tag_call)
        if "TAGS" not in ctx.columns:
            raise TemplateError("$(tag) needs a TAGS array in the context")
        if args[0].lit is None:
            raise TemplateError("$(tag NAME) takes a literal tag name")
        has = F.array_contains(
            F.coalesce(ctx.columns["TAGS"], F.array()), args[0].lit
        )
        if_set = args[1].col if len(args) > 1 else F.lit("1")
        if_unset = args[2].col if len(args) > 2 else F.lit("0")
        return F.when(has, if_set).otherwise(if_unset)
    if name == "tags-head":
        # $(tags-head t1 t2 ...) — the first listed tag the message
        # carries (tf-tag.c tf_tags_head_call)
        if "TAGS" not in ctx.columns:
            raise TemplateError("$(tags-head) needs a TAGS array in the context")
        tags = F.coalesce(ctx.columns["TAGS"], F.array())
        out: Column = F.lit("")
        for a in reversed(args):
            if a.lit is None:
                raise TemplateError("$(tags-head) takes literal tag names")
            out = F.when(F.array_contains(tags, a.lit), F.lit(a.lit)).otherwise(out)
        return out
    if name in ("+", "-", "*", "/", "%"):
        if len(args) != 2:
            raise TemplateError(f"$({name} a b) takes two arguments")
        return _arith(name, args)
    if name in ("sum", "min", "max", "average"):
        nums = [_num(a.col) for a in args]
        if name == "sum":
            out = nums[0]
            for x in nums[1:]:
                out = out + x
        elif name == "min":
            out = F.least(*nums) if len(nums) > 1 else nums[0]
        elif name == "max":
            out = F.greatest(*nums) if len(nums) > 1 else nums[0]
        else:
            out = sum(nums[1:], nums[0]) / F.lit(len(nums))
        return _fmt_num(out)
    if name == "round":
        digits = args[1].as_int("round digits") if len(args) > 1 else 0
        if digits < 0 or digits > 20:
            # numeric-funcs.c bounds the precision to 0..20 -> NaN
            return F.lit("NaN")
        if digits == 0:
            return _fmt_num(F.round(_num(args[0].col), 0))
        # fixed-precision render: exactly `digits` decimals, zero-padded
        # ("$(round 2 20)" prints 2.000... with 20 zeros); a value the
        # decimal cannot hold renders as the double's string
        r = F.round(_num(args[0].col), digits)
        return F.when(r.isNull(), F.lit("NaN")).otherwise(
            F.coalesce(
                r.try_cast(f"decimal(38,{digits})").cast("string"),
                r.cast("string"),
            )
        )
    if name in ("ceil", "floor"):
        # Spark's ceil/floor return a bigint that saturates beyond
        # ±2^63; a double of magnitude >= 2^52 is already whole
        x = _num(args[0].col)
        whole = (F.ceil if name == "ceil" else F.floor)(x).cast("double")
        return _fmt_num(F.when(F.abs(x) < 2.0**52, whole).otherwise(x))
    if name in ("map", "filter"):
        # tf-map.c / tf-filter.c: evaluate a template (map) or a
        # filter condition (filter) per list element, with '$_' bound
        # to the element. The element binding composes through nested
        # templates ($(map $(+ 1 $_) $(map ...)) works because each
        # call compiles its own '_' frame).
        if len(args) < 2:
            raise TemplateError(f"$({name} expr list...)")
        import dataclasses

        inner = raw_args[0]
        arr = _list_of_args(args[1:])

        def _with_elem(e: Column) -> TemplateContext:
            return dataclasses.replace(
                ctx, columns={**ctx.columns, "_": e}
            )

        if name == "map":
            return tf.list_repr(
                F.transform(arr, lambda e: compile_template(inner, _with_elem(e)))
            )
        return tf.list_repr(
            F.filter(arr, lambda e: parse_condition(inner, _with_elem(e)))
        )
    if name == "list-concat":
        return tf.list_repr(_list_of_args(args))
    if name == "list-head":
        return F.coalesce(
            F.try_element_at(_list_of_args(args), F.lit(1)), F.lit("")
        )
    if name == "list-nth":
        if len(args) < 2:
            raise TemplateError("$(list-nth n list...)")
        n = args[0].as_int("list-nth")
        arr = _list_of_args(args[1:])
        # 0-based; negative counts from the end; out of range -> ""
        pos = F.lit(n + 1) if n >= 0 else F.size(arr) + F.lit(n + 1)
        return F.coalesce(
            F.when(pos >= 1, F.try_element_at(arr, pos)), F.lit("")
        )
    if name == "list-tail":
        arr = _list_of_args(args)
        return tf.list_repr(F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))))
    if name == "list-count":
        return F.size(_list_of_args(args)).cast("string")
    if name == "list-append":
        base = _list_parse(args[0].col) if args else F.array().cast("array<string>")
        for a in args[1:]:
            base = F.array_append(base, a.col)
        return tf.list_repr(base)
    if name == "list-slice":
        if len(args) < 2:
            raise TemplateError("$(list-slice a:b list...)")
        start, end = _py_slice_bounds(raw_args[0])
        arr = _list_of_args(args[1:])
        n = F.size(arr)

        def bound(v, dflt):
            if v is None:
                return dflt
            b = F.lit(v) if v >= 0 else n + F.lit(v)
            return F.greatest(F.least(b, n), F.lit(0))

        s = bound(start, F.lit(0))
        e = bound(end, n)
        return tf.list_repr(
            F.slice(arr, s + 1, F.greatest(e - s, F.lit(0)))
        )
    if name == "list-search":
        mode, start_index = "literal", 0
        rest_raw: list[str] = []
        rest_args = []
        i = 0
        while i < len(raw_args):
            if raw_args[i] == "--mode":
                mode = raw_args[i + 1]; i += 2
            elif raw_args[i] == "--start-index":
                start_index = int(raw_args[i + 1]); i += 2
            else:
                rest_raw.append(raw_args[i])
                rest_args.append(args[i])
                i += 1
        if not rest_args:
            raise TemplateError("$(list-search needle list...)")
        needle_col, needle_raw = rest_args[0].col, rest_raw[0]
        arr = _list_of_args(rest_args[1:])

        def pred(v: Column) -> Column:
            if mode == "literal":
                return v == needle_col
            if mode == "prefix":
                return v.startswith(needle_col)
            if mode == "substring":
                return v.contains(needle_col)
            if mode == "glob":
                from axosyslog_spark.operators.filters import glob_match

                return glob_match(v, needle_raw)
            if mode == "pcre":
                return v.rlike(needle_raw)
            raise TemplateError(f"$(list-search): unknown mode {mode}")

        indexed = F.zip_with(
            arr,
            F.sequence(F.lit(0), F.greatest(F.size(arr) - 1, F.lit(0))),
            lambda v, ix: F.struct(v.alias("v"), ix.alias("i")),
        )
        hits = F.filter(
            indexed, lambda s: (s["i"] >= start_index) & pred(s["v"])
        )
        first = F.try_element_at(hits, F.lit(1))["i"]
        return F.when(
            (F.size(arr) > 0) & first.isNotNull(), first.cast("string")
        ).otherwise(F.lit(""))
    if name == "implode":
        if len(args) < 2:
            raise TemplateError("$(implode sep list...)")
        return F.array_join(_list_of_args(args[1:]), args[0].lit or "")
    if name == "explode":
        if len(args) < 2:
            raise TemplateError("$(explode sep str...)")
        sep = re.escape(args[0].lit or " ")
        arrs = [F.split(a.col, sep) for a in args[1:]]
        out = arrs[0]
        for a in arrs[1:]:
            out = F.concat(out, a)
        return tf.list_repr(F.filter(out, lambda x: x != ""))
    if name == "basename":
        return tf.tf_basename(one())
    if name == "dirname":
        return tf.tf_dirname(one())
    if name == "ipv4-to-int":
        return tf.tf_ipv4_to_int(one()).cast("string")
    if name == "url-encode":
        return F.url_encode(one())
    if name == "url-decode":
        return F.url_decode(one())
    if name == "base64-encode":
        # multi-arg: arguments CONCATENATE before encoding (the C
        # suite: $(base64-encode abcd abcd) == encode("abcdabcd"))
        if not args:
            return F.lit("")
        return tf.tf_base64_encode(F.concat(*[a.col for a in args]))
    if name in ("sha256", "sha512", "sha1", "md5", "md4", "hash"):
        length = None
        if raw_args and raw_args[0] in ("--length", "-l"):
            length = args[1].as_int("--length")
            args = args[2:]
        payload = F.concat(*[a.col for a in args]) if args else F.lit("")
        if name in ("sha256", "hash"):
            return tf.tf_sha256(payload, length)
        h = {
            "sha512": lambda c: F.sha2(c.cast("binary"), 512),
            "sha1": lambda c: F.sha1(c.cast("binary")),
            "md5": tf.tf_md5,
            "md4": tf.tf_md4,
        }[name](payload)
        return F.substring(h, 1, length) if length else h
    if name == "uuid":
        return F.expr("uuid()")
    if name == "indent-multi-line":
        # $(indent-multi-line ${MSG}): continuation lines tab-indented
        # (basic-funcs.c tf_indent_multi_line)
        return F.regexp_replace(one(), "\n", "\n\t")
    if name == "format-date":
        if not args:
            raise TemplateError("$(format-date fmt [ts])")
        if args[0].lit is None:
            raise TemplateError("$(format-date) format must be literal")
        ts = (
            F.timestamp_seconds(_int64(args[1].col))
            if len(args) > 1
            else ctx.stamp
        )
        if ts is None:
            raise TemplateError("$(format-date) needs a stamp in the context")
        return F.date_format(ts, strftime_to_spark(args[0].lit))
    if name == "graphite-output":
        # $(graphite-output k=tmpl ...) — same explicit-pairs calling
        # convention as $(format-welf); stamp provides the unixtime
        # column (modules/graphite/graphite-output.c)
        if ctx.stamp is None:
            raise TemplateError("$(graphite-output) needs a stamp in the context")
        pairs = []
        for a in raw_args:
            k, _, v = a.partition("=")
            pairs.append((F.lit(k), compile_template(v, ctx)))
        m = F.map_from_arrays(
            F.array(*[p[0] for p in pairs]), F.array(*[p[1] for p in pairs])
        )
        return tf.format_graphite(m, ctx.stamp)
    if name == "getent":
        # $(getent passwd 0) / $(getent group 0) etc (modules/getent):
        # a config-time host-database lookup; literal args fold to a
        # literal like $(env) does. Non-literal args would need the
        # worker's NSS databases — not meaningful for a batch table.
        if len(raw_args) < 2 or args[0].lit is None or args[1].lit is None:
            raise TemplateError("$(getent DB KEY [field]) takes literal args")
        db, key = args[0].lit, args[1].lit
        fld = args[2].lit if len(args) > 2 and args[2].lit else None
        try:
            if db == "passwd":
                import pwd

                ent = pwd.getpwuid(int(key)) if key.isdigit() else pwd.getpwnam(key)
                val = {
                    None: ent.pw_name, "name": ent.pw_name,
                    "uid": str(ent.pw_uid), "gid": str(ent.pw_gid),
                    "dir": ent.pw_dir, "shell": ent.pw_shell,
                }[fld]
            elif db == "group":
                import grp

                ent = grp.getgrgid(int(key)) if key.isdigit() else grp.getgrnam(key)
                val = {
                    None: ent.gr_name, "name": ent.gr_name,
                    "gid": str(ent.gr_gid),
                    "members": ",".join(ent.gr_mem),
                }[fld]
            else:
                raise TemplateError(f"$(getent) unsupported database {db!r}")
        except (KeyError, OSError):
            val = ""
        return F.lit(val)
    if name == "format-welf":
        # k=v pairs AND/OR the value-pairs selection (--key/--exclude
        # with globs and comma lists — test_format_welf.c
        # key_and_exclude table)
        return tf.format_welf(_value_pairs(raw_args, ctx))
    if name in ("format-json", "format-flat-json"):
        # modules/json/format-json.c: explicit k=v pairs AND/OR a
        # value-pairs selection (globs / --scope / --key / --exclude)
        # with the transforms.c rekey chain applied at COMPILE time
        # (keys here are plan-time strings), through the one JSON
        # encoder: format-json nests dotted keys into objects,
        # format-flat-json emits them verbatim
        return tf.format_json(
            _value_pairs(raw_args, ctx), flat=name == "format-flat-json"
        )
    if name == "binary":
        # $(binary n n ...) — basicfuncs/str-funcs.c:505-578
        # tf_binary_prepare: a compile-time constant built from
        # dec/hex/oct byte values; any parse failure or value >255 is
        # a compile error. The reference emits raw bytes into the
        # result buffer; the Spark string-column analog is the chr()
        # codepoint composition (identical through 0x7F, UTF-8-encoded
        # above — documented drift for a string, not bytes, sink).
        if not raw_args:
            raise TemplateError(
                "$(binary) Incorrect parameters, usage "
                "$(binary <number> <number> ...)"
            )
        chars = []
        for tok in raw_args:
            try:
                if tok.lower().startswith("0x"):
                    n = int(tok, 16)
                elif tok.startswith("0") and len(tok) > 1:
                    n = int(tok, 8)
                else:
                    n = int(tok, 10)
            except ValueError:
                raise TemplateError(
                    f"$(binary) unable to parse {tok} as a number"
                )
            if n < 0 or n > 0xFF:
                raise TemplateError(
                    f"$(binary) only supports 8 bit values as "
                    f"characters, {n} is above 255"
                )
            chars.append(chr(n))
        return F.lit("".join(chars))
    if name == "slog":
        # secure-logging.c $(slog): the forward-secure MAC chain is
        # sequential by construction — it lives in operators/slog.py
        # (seal/verify over applyInPandas), not in a per-row template
        raise TemplateError(
            "$(slog) is the sequential secure-logging chain; use "
            "operators/slog.seal_messages() (see operators/slog.py)"
        )
    if name == "geoip2":
        # geoip-plugin.c $(geoip2): a per-message mmdb lookup is a
        # range JOIN in the column model, not an expression — use the
        # enrich operator (broadcast range join over the mmdb ranges)
        raise TemplateError(
            "$(geoip2) is a lookup join; use operators/enrich.geoip2() "
            "(see operators/enrich.py, operators/mmdb.py)"
        )
    raise TemplateError(f"unknown template function $({name})")


# ---------------------------------------------------------------------------
# the compiler entry point
# ---------------------------------------------------------------------------


def compile_template(template: str, ctx: TemplateContext) -> Column:
    """Template string -> ONE string Column (plan-time compilation)."""
    parts: list[Column] = []
    for elem in tokenize(template):
        if isinstance(elem, Lit):
            parts.append(F.lit(elem.text))
        elif isinstance(elem, ValueRef):
            if elem.msg_ref > 0 and ctx.context_entries is not None:
                # eval.c:173-188 context addressing: stored msg_ref is
                # user's @N + 1; msg_ndx = num_messages - msg_ref
                # (counts BACKWARD: @0 = newest). Out of range ->
                # empty string without evaluating.
                entries = ctx.context_entries
                n = F.size(entries)
                idx = n - F.lit(elem.msg_ref) + 1  # element_at is 1-based
                e = F.element_at(entries, idx)
                if elem.name in ctx.context_entry_fields:
                    val = e[elem.name].cast("string")
                elif elem.default is not None:
                    val = F.lit(elem.default)
                else:
                    val = F.lit("")
                parts.append(
                    F.when(
                        (F.lit(elem.msg_ref) <= n) & val.isNotNull(), val
                    ).otherwise(F.lit(elem.default or ""))
                )
            else:
                parts.append(ctx.resolve(elem.name, elem.default))
        else:
            parts.append(F.coalesce(_apply_func(elem, ctx).cast("string"), F.lit("")))
    if not parts:
        return F.lit("")
    if len(parts) == 1:
        return parts[0]
    return F.concat(*parts)


def is_trivial(template: str) -> bool:
    """log_template_is_trivial analog: a single bare value ref compiles
    to a plain column reference (no concat)."""
    elems = tokenize(template)
    return len(elems) == 1 and isinstance(elems[0], ValueRef)


def parsed_template_context(
    include_fields: list[str] | None = None, field_fallback: bool = False
) -> TemplateContext:
    """Context for the flagship parsed frame (parse.parse_stage output):
    builtin macros bound to the header columns, S_=msg_ts, R_=ts."""
    cols = {
        "HOST": F.col("host"),
        "PROGRAM": F.col("appname"),
        "PID": F.col("procid"),
        "MSG": F.col("body"),
        "MESSAGE": F.col("body"),
        "PRI": F.col("pri").cast("string"),
        "SEVERITY_NUM": F.col("severity"),
        "FACILITY_NUM": F.col("facility"),
        "TAGS": F.array_join(F.col("tags"), ","),
        "LOGHOST": F.lit("spark-pipeline"),
        "SEQNUM": F.col("turn_idx").cast("string"),
        "UNIQID": F.concat(F.col("conv_id"), F.lit("@"), F.col("turn_idx").cast("string")),
        # RCPTID: the reference's persistent per-message counter; the
        # deterministic batch analog is the same stable row identity
        "RCPTID": F.concat(F.col("conv_id"), F.lit("@"), F.col("turn_idx").cast("string")),
        "CONTEXT_ID": F.col("conv_id"),
        # raw wire line for $RAWMSG_SIZE (store-raw-message analog)
        "RAWMSG": F.col("text"),
    }
    for f in include_fields or []:
        cols[f] = F.col(f)
    return TemplateContext(
        columns=cols,
        stamp=F.coalesce(F.col("msg_ts"), F.col("ts")),
        recvd=F.col("ts"),
        field_fallback=field_fallback,
    )
