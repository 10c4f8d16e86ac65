"""Filter predicates: type-aware comparison, pri filters, netmask,
in-list, tags, glob — each returns a boolean Column.

The centerpiece is the type-aware comparison of the reference's 4.0
filter expressions (lib/filter/filter-cmp.c:161-235), which follows
JavaScript-inspired rules rather than SQL three-valued logic:

  1) same type and string-like (string/json/list/bytes)
       -> bytewise string comparison
  2) either side NULL-typed: == is (both null), != is (not both);
     ordering operators fall through to numeric with NULL -> 0
  3) otherwise both sides convert to numbers (string parse failure,
     json/list/bytes -> NaN; bool -> 0/1; datetime -> epoch millis);
     any NaN makes every comparison FALSE except != which is TRUE
  4) === / !== additionally require equal types (filter-cmp.c
     _evaluate_type_and_value_comparison)

In our engine types are static (Spark column types), so the dynamic
type dispatch of the reference happens at PLAN time: typed_cmp() takes
the declared value types and emits plain Column algebra — no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from axosyslog_spark.operators.matchgroups import extract, match_groups, matched, with_matches

STRING_LIKE = {"string", "json", "list", "bytes"}

_OPS = ("==", "!=", "<", "<=", ">", ">=", "===", "!==")


def _cmp(l: Column, r: Column, op: str) -> Column:
    return {
        "==": l == r,
        "!=": l != r,
        "<": l < r,
        "<=": l <= r,
        ">": l > r,
        ">=": l >= r,
    }[op]


def _to_num(c: Column, t: str) -> Column:
    """JS-style ToNumber (filter-cmp.c _convert_to_number).

    Returns a double Column where SQL NULL encodes NaN (parse failure
    or inherently non-numeric types).
    """
    if t in ("string", "int", "double"):
        return c.cast("string").try_cast("double")
    if t == "null":
        return F.lit(0.0)
    if t == "bool":
        return c.cast("int").cast("double")
    if t == "datetime":
        return (F.unix_millis(c)).cast("double")
    # json / list / bytes / objects -> NaN
    return F.lit(None).cast("double")


def typed_cmp(
    l: Column, lt: str, r: Column, rt: str, op: str
) -> Column:
    """The type-aware comparison (`==` family and `===`/`!==`)."""
    if op not in _OPS:
        raise ValueError(f"unknown operator {op!r}")

    if op in ("===", "!=="):
        if lt != rt:
            return F.lit(op == "!==")
        return typed_cmp(l, lt, r, rt, "==" if op == "===" else "!=")

    # rule 1: same string-like type -> bytewise comparison
    if lt == rt and lt in STRING_LIKE:
        if op == "==":
            return l.eqNullSafe(r)
        if op == "!=":
            return ~l.eqNullSafe(r)
        return F.coalesce(_cmp(l, r, op), F.lit(False))

    # rule 2: NULL type on either side, equality ops only
    if (lt == "null" or rt == "null") and op in ("==", "!="):
        return F.lit((lt == rt) == (op == "=="))

    # rule 3: numeric comparison with NaN rules
    ln, rn = _to_num(l, lt), _to_num(r, rt)
    nan = ln.isNull() | rn.isNull() | F.isnan(ln) | F.isnan(rn)
    return F.when(nan, F.lit(op == "!=")).otherwise(_cmp(ln, rn, op))


def string_cmp(l: Column, r: Column, op: str) -> Column:
    """The classic `eq/ne/lt/le/gt/ge` operators: ALWAYS bytewise string
    comparison regardless of content (filter-cmp.c FCMP_TYPE_AWARE off,
    string mode)."""
    return F.coalesce(_cmp(l.cast("string"), r.cast("string"), op), F.lit(False))


def numeric_cmp(l: Column, r: Column, op: str) -> Column:
    """Compat-mode `< > ==` (pre-4.0, VERSION 3.x): operands convert to
    numbers with unparseable strings becoming 0 (filter-cmp.c
    compat path / test_compat_mode_numeric_comparisons)."""
    ln = F.coalesce(l.cast("string").try_cast("double"), F.lit(0.0))
    rn = F.coalesce(r.cast("string").try_cast("double"), F.lit(0.0))
    return _cmp(ln, rn, op)


# ---------------------------------------------------------------------------
# classic filter drivers (lib/filter/)
# ---------------------------------------------------------------------------

SEVERITIES = ("emerg", "alert", "crit", "err", "warning", "notice", "info", "debug")
FACILITIES = (
    "kern", "user", "mail", "daemon", "auth", "syslog", "lpr", "news",
    "uucp", "cron", "authpriv", "ftp", "ntp", "security", "console",
    "solaris-cron", "local0", "local1", "local2", "local3", "local4",
    "local5", "local6", "local7",
)


def severity_in(names_or_nums: list, col: str = "severity") -> Column:
    """severity()/level() filter — set membership over the pri low bits
    (lib/filter/filter-pri.c bitmask semantics)."""
    nums = [
        n if isinstance(n, int) else SEVERITIES.index(n) for n in names_or_nums
    ]
    return F.col(col).isin(nums)


def severity_range(lo, hi, col: str = "severity") -> Column:
    """level(err..emerg) range form; accepts names or numbers.
    Note syslog severity is inverted: 0 is most severe."""
    lo_n = lo if isinstance(lo, int) else SEVERITIES.index(lo)
    hi_n = hi if isinstance(hi, int) else SEVERITIES.index(hi)
    lo_n, hi_n = min(lo_n, hi_n), max(lo_n, hi_n)
    return F.col(col).between(lo_n, hi_n)


def facility_in(names_or_nums: list, col: str = "facility") -> Column:
    nums = [
        n if isinstance(n, int) else FACILITIES.index(n) for n in names_or_nums
    ]
    return F.col(col).isin(nums)


# strict dotted-quad octet: 0-255, no leading zeros (inet_pton rules —
# the reference's filter-netmask.c fails the parse on invalid input)
_IPV4_OCTET = r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
IPV4_STRICT_RE = rf"^{_IPV4_OCTET}(?:\.{_IPV4_OCTET}){{3}}$"


def ip_to_long(ip: Column) -> Column:
    """Dotted IPv4 -> int64 (for netmask/geoip range logic).

    Invalid addresses (out-of-range octets like 999.0.0.1, too few
    parts) yield NULL so CIDR containment is never falsely true.
    """
    parts = F.split(ip, r"\.")
    num = (
        F.element_at(parts, 1).cast("bigint") * 16777216
        + F.element_at(parts, 2).cast("bigint") * 65536
        + F.element_at(parts, 3).cast("bigint") * 256
        + F.element_at(parts, 4).cast("bigint")
    )
    return F.when(ip.rlike(IPV4_STRICT_RE), num)


def netmask(ip_col: Column, cidr: str) -> Column:
    """netmask() filter: CIDR containment as an int range check
    (lib/filter/filter-netmask.c) — no UDF, pushdown-friendly."""
    net, _, bits_s = cidr.partition("/")
    bits = int(bits_s) if bits_s else 32
    base_parts = [int(p) for p in net.split(".")]
    base = (
        base_parts[0] * 16777216 + base_parts[1] * 65536
        + base_parts[2] * 256 + base_parts[3]
    )
    span = 1 << (32 - bits)
    lo = (base // span) * span
    return ip_to_long(ip_col).between(lo, lo + span - 1)


def ipv6_to_words(ip: Column) -> Column:
    """IPv6 string -> struct of four 32-bit words (as bigints), pure
    column algebra. Struct comparison is lexicographic, which equals
    unsigned 128-bit ordering — Decimal(38) cannot hold 2^128 and a
    single bigint would sign-wrap, so words it is.

    Handles '::' zero-compression by splitting into left/right group
    lists and padding the middle. (No zone-ids/embedded-IPv4 forms —
    the reference's filter-netmask6.c normalizes those upstream too.)
    """
    halves = F.split(ip, "::", 2)
    left = F.filter(F.split(F.element_at(halves, 1), ":"), lambda x: x != "")
    has_comp = F.size(halves) == 2
    right_raw = F.when(has_comp, F.split(F.element_at(halves, 2), ":")).otherwise(
        F.array().cast("array<string>")
    )
    right = F.filter(right_raw, lambda x: x != "")
    nl, nr = F.size(left), F.size(right)

    def group(i: int) -> Column:
        # slot i comes from left when i < nl, from right when
        # i >= 8 - nr, else it is a compressed zero
        g = (
            F.when(F.lit(i) < nl, F.element_at(left, i + 1))
            .when(F.lit(i) >= 8 - nr, F.element_at(right, i - 8 + nr + 1))
            .otherwise(F.lit("0"))
        )
        return F.conv(g, 16, 10).cast("bigint")

    words = [
        (group(2 * j) * 65536 + group(2 * j + 1)).alias(f"w{j}") for j in range(4)
    ]
    return F.struct(*words)


def _ipv6_words_lit(value: int) -> Column:
    words = [(value >> (96 - 32 * j)) & 0xFFFFFFFF for j in range(4)]
    return F.struct(*[F.lit(w).cast("bigint").alias(f"w{j}") for j, w in enumerate(words)])


def netmask6(ip_col: Column, cidr: str) -> Column:
    """netmask6() filter: IPv6 CIDR containment as a lexicographic
    word-struct range check (lib/filter/filter-netmask6.c) — the CIDR
    bounds fold to plan-time literals via stdlib ipaddress."""
    import ipaddress

    net = ipaddress.ip_network(cidr, strict=False)
    v = ipv6_to_words(ip_col)
    return (v >= _ipv6_words_lit(int(net.network_address))) & (
        v <= _ipv6_words_lit(int(net.broadcast_address))
    )


def in_list(col: Column, values: list[str]) -> Column:
    """in-list() filter: membership in a file-loaded set
    (lib/filter/filter-in-list.c). Small sets inline to isin (codegen);
    a huge set should instead broadcast-semi-join — see enrich.py."""
    return col.isin(values)


def has_tag(tag: str, col: str = "tags") -> Column:
    """tags() filter (lib/filter/filter-tags.c)."""
    return F.array_contains(F.col(col), tag)


def glob_match(col: Column, pattern: str) -> Column:
    """glob match (logmatcher LMF_GLOB): * and ? wildcards -> LIKE."""
    like = (
        pattern.replace("\\", "\\\\").replace("%", r"\%").replace("_", r"\_")
        .replace("*", "%").replace("?", "_")
    )
    return col.like(like)


def match_store_groups(df, pattern: str, src_col: str = "text", n_groups: int = 3):
    """match() with capture storage: $0..$n transient columns
    (lib/filter/filter-re.c filter_match_new; logmsg $0..$255) from one
    framed match (matchgroups.match_groups). A group reads "" when the
    pattern missed, as regexp_extract does; ``__matched`` is true also
    for an empty match (``a*`` on "xyz"), as the reference's match() is."""
    out = with_matches(df, {"__mg": match_groups(F.col(src_col), pattern)})
    m = F.col("__mg")
    groups = {f"__m{i}": extract(m, i) for i in range(n_groups + 1)}
    return out.withColumns({**groups, "__matched": matched(m)}).drop("__mg")
