"""PatternDB / grok: multi-pattern classification + typed extraction.

Reference: db-parser() compiles an XML ruleset into a radix trie of
literal prefixes and typed wildcards, classifies each message and
extracts named typed fields (modules/correlation/radix.c:666-860 for
the parser classes, patterndb.c, dbparser.c). Pattern syntax:

    literal@CLASS:name:param@literal...      ('@@' escapes a literal @)

Parser classes (radix.c:277-860) — all 17:
  ESTRING:name:terminator  — consume up to terminator (excl.);
                             empty terminator = rest of line
  NLSTRING:name            — up to (excl.) \\r?\\n or end of input
  QSTRING:name:q           — quoted string; CAPTURES WITHOUT quotes
  STRING:name              — one whitespace-delimited word
  NUMBER:name              — integer (-> bigint)
  FLOAT:name               — decimal (-> double)
  IPv4/IPv6/IPvANY:name    — address literal
  MACADDR:name             — up to 6 colon-separated hex pairs
  LLADDR:name:k            — up to k colon-separated hex pairs
  EMAIL:name:brackets      — user@host, optional bracket chars around
                             (consumed, not captured)
  HOSTNAME:name            — dotted name
  SET:name:chars           — non-empty run of the given characters
  OPTIONALSET:name:chars   — possibly-empty run (always matches)
  PCRE:name:regex          — embedded regex (its groups de-captured)
  ANYSTRING:name           — rest of line

Match semantics mirror radix.c _find_node_with_state: a COMPLETE
match (entire message consumed) is preferred; when no rule matches
completely, a PARTIAL match (pattern fully consumed, message remainder
ignored) is accepted — see the `@MACADDR@` + trailing ".iii" cases in
modules/correlation/tests/test_radix.c. Within a tier, the rule with
the longest literal prefix wins (the radix longest-match preference),
declaration order breaking ties.

Spark-first execution (the asymptotic analog of the reference's
radix trie walk, radix.c:666-860): patterns group into the leaves of a
literal-prefix dispatch tree (see _build_dispatch; a ruleset with
fewer than two distinct literal prefixes is a tree with ONE root
leaf), and each leaf compiles into ordered alternation regexes
executed by regexp_replace into a framed result string. The input is
prepended with a \\x02 marker and each alternative carries a sentinel
capture group around that marker (Java resets captures when it
backtracks out of a failed alternative, so exactly the winner's
sentinel participates). Every leaf regex renders the same frame
layout over its own m alternatives

    \\x03 <leaf-id> <header> <block_0> ... <block_{m-1}> [remainder]
    header  = $s_0 \\x01 $s_1 \\x01 ...   (winner's sentinel = \\x02)
    block_i = $f(i,1) \\x04 $f(i,2) \\x04 ... \\x01

from which everything decodes WITHOUT further regex work or O(rules)
per-row scanning:

- the leaf id is one character, and the header's rendered size is
  fixed (m separators + the one marker byte), so the winner's local
  ordinal is a single ``instr(result, \\x02)`` byte scan;
- a LOSING block renders only its unconditional separator literals,
  len(fields_i)+1 bytes, a compile-time constant — so the winner's
  block starts at a byte offset that is a pure function of
  (leaf id, local ordinal), and two constant tables
  (_leaf_idx_map / _leaf_off_map) turn that pair into the global
  index and the block offset; the fields come out with substr +
  substring_index + one small split.

The two radix tiers (complete-preferred, then partial — radix.c
_find_node_with_state) run in one of two ways per leaf, fixed at
compile time by the leaf's member count (_MERGE_MAX_MEMBERS):

- MERGED (small leaves): ONE alternation carrying both tiers — the
  leaf's complete-match alternatives (each anchored \\z) first, then
  the same bodies unanchored — so Java's left-to-right alternation
  try IS the complete-preferred two-pass collapsed into a single
  execution. One leaf id, 2k blocks.
- TWO-PASS (wide leaves): the merged template doubles to 2k blocks
  that Java re-parses per MATCHING row, which measured slower than a
  second regex execution at 50 rules (18.8 s vs 11.7 s per 5M rows).
  A wide leaf gets two leaf ids, one k-block frame per tier. The
  complete tier runs on every routed row and is staged; the partial
  tier runs only where it missed (the staged result still starts
  with the \\x02 marker, not \\x03). The decode is the same table
  lookup, whose partial-id rows carry the +N partial-tier offset.
  Chaining the tiers instead — regexp_replace(regexp_replace(marked,
  complete), partial), no gate — measured 17-19% slower at 50 and
  200 rules: Spark's regexp_replace decodes, copies and re-encodes
  the whole framed result even when the regex fails at its first
  byte, and Java tries every partial alternative's first byte.

Alternation order IS precedence order (complete tier first, then
longest-literal-prefix, declaration tiebreak), and failed
alternatives abort on their first literal byte. The only residual
leaf-size-proportional cost is the replacement template (a few bytes
per member+field) that Java re-parses per matching row. Everything
stays inside whole-stage codegen with O(1) plan expressions; no
Python runs per row.

The complete-tier alternatives anchor with \\z (end of input, like
RE2's `$` and radix.c's full-consumption requirement) so a trailing
newline does NOT count as a complete match.

This composition is the scale path: at 10^12 rows a pandas-UDF trie
would move every text through Arrow; the alternation regex moves
nothing and lets Catalyst prune unreferenced field columns.

In-band framing contract (operators/matchgroups.py owns the bytes):
the framed decode requires text free of \\x01-\\x04, so apply() strips
them (matchgroups.strip_framing_bytes) before either tier regex —
syslog payloads never legitimately carry them (the reference's
line-based sources strip control bytes too); hostile/binary input
degrades to classification of the stripped text, not garbled rule_ids.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from axosyslog_spark.functions.literals import JvmMemo, literal_array
from axosyslog_spark.operators.matchgroups import (
    BLOCK_SEP, FIELD_SEP, HIT, MARK, regex_tokens, strip_framing_bytes,
)

# first leaf-id character (see _leaf_frame): clear of the framing bytes
_LEAF_ID_BASE = 0x10
# leaf ids are single characters below the surrogate block; a ruleset
# needing more (~26k-52k distinct literal prefixes) is rejected
_MAX_LEAF_IDS = 0xD000 - _LEAF_ID_BASE
# widest dispatch leaf (member count) whose two tiers run as ONE merged
# alternation; wider leaves run them as two regexes, the partial tier
# only where the complete tier missed (module docstring). Read when a
# PatternDB is built. Set from tools/profile_pdb_variants.py (one root
# leaf of k prefix-less rules, 4 vCPUs; merged/two-pass ratio of median
# apply times, 1.2M rows, 7 interleaved pairs): k=2 0.998, k=4 1.136,
# k=8 1.105; 400k rows, 5 pairs: k=16 1.196, k=32 1.313, k=50 1.372.
_MERGE_MAX_MEMBERS = 2


# IPv4 with per-octet 0..255 validation (r_parser_ip: each octet is
# value-checked; the parsers_e2e truth table rejects 256.256.256.256)
_IPV4_OCTET = r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9]{1,2})"
# the (?![0-9]) guard mirrors the scanner: it consumes the whole digit
# run of the last octet — a match never stops mid-number
_IPV4_FRAGMENT = rf"(?:{_IPV4_OCTET}\.){{3}}{_IPV4_OCTET}(?![0-9])"
# IPv6 with at most ONE '::' compression (the standard alternation —
# r_parser_pcre_ip6 is inet_pton-strict and the e2e table rejects a
# double '::')
_IPV6_FRAGMENT = (
    r"(?:"
    r"(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}"
    r"|(?:[0-9A-Fa-f]{1,4}:){1,7}:"
    r"|(?:[0-9A-Fa-f]{1,4}:){1,6}:[0-9A-Fa-f]{1,4}"
    r"|(?:[0-9A-Fa-f]{1,4}:){1,5}(?::[0-9A-Fa-f]{1,4}){1,2}"
    r"|(?:[0-9A-Fa-f]{1,4}:){1,4}(?::[0-9A-Fa-f]{1,4}){1,3}"
    r"|(?:[0-9A-Fa-f]{1,4}:){1,3}(?::[0-9A-Fa-f]{1,4}){1,4}"
    r"|(?:[0-9A-Fa-f]{1,4}:){1,2}(?::[0-9A-Fa-f]{1,4}){1,5}"
    r"|[0-9A-Fa-f]{1,4}:(?::[0-9A-Fa-f]{1,4}){1,6}"
    r"|:(?::[0-9A-Fa-f]{1,4}){1,7}"
    r"|::"
    r")"
    # r_parser_ip6 consumes the ENTIRE colon-hex run and then
    # validates (inet_pton) — a match must not stop inside the run,
    # so a malformed tail (e.g. a second '::') fails the class
    # instead of prefix-matching (parsers_e2e truth table)
    r"(?![0-9A-Fa-f:])"
)

# class -> (regex fragment WITHOUT capture group, spark cast type or None)
_CLASS_FRAGMENTS: dict[str, tuple[str, str | None]] = {
    "STRING": (r"[^\s]+", None),
    "NUMBER": (r"-?[0-9]+", "bigint"),
    "FLOAT": (r"-?[0-9]+(?:\.[0-9]+)?", "double"),
    # @DOUBLE@ is the radix parsers' legacy alias of @FLOAT@
    "DOUBLE": (r"-?[0-9]+(?:\.[0-9]+)?", "double"),
    "IPv4": (_IPV4_FRAGMENT, None),
    "IPv6": (_IPV6_FRAGMENT, None),
    "IPvANY": (rf"(?:{_IPV4_FRAGMENT}|{_IPV6_FRAGMENT})", None),
    # _r_parser_lladdr(parts=6): 1..6 colon-separated hex pairs
    "MACADDR": (r"(?:[0-9A-Fa-f]{2}:){0,5}[0-9A-Fa-f]{2}", None),
    "HOSTNAME": (r"[0-9A-Za-z][0-9A-Za-z._-]*", None),
    "ANYSTRING": (r".*", None),
    # r_parser_nlstring: up to \n (or end), a \r before the \n dropped
    "NLSTRING": (r"[^\n]*?(?=\r?\n|$)", None),
}

# r_parser_email: local part = alnum + "!#$%&'*+-/=?^_`{|}~.",
# host part = hostname chars — brackets/spaces never leak in
_EMAIL_CORE = r"[0-9A-Za-z!#$%&'*+/=?^_`{|}~.-]+@[0-9A-Za-z._-]+"


def _decapture(pattern: str) -> str:
    """Turn capturing groups of an embedded PCRE param into
    non-capturing ones so they don't shift our field numbering
    (the reference stores only the whole PCRE match)."""
    out, last = [], 0
    for i, tok in regex_tokens(pattern):
        if tok == "(" and not pattern.startswith("(?", i):
            out += [pattern[last:i], "(?:"]
            last = i + 1
    return "".join(out) + pattern[last:]


@dataclass(frozen=True)
class PdbField:
    name: str
    cast: str | None  # spark type name, None = string


def parse_action_rate(rate: str | None) -> tuple[int, int]:
    """<action rate="N/Ts"> -> (N, T); bare "N" means N per second;
    a zero/absent quantum falls back to 1 (pdb-action.c
    pdb_action_set_rate:52-74). rate 0 / None = unlimited.

    Both numbers are read with atoi semantics — the leading digit run,
    0 on junk — because the reference tolerates strings like "5/2h"
    (atoi("2h") == 2) and loads configs with non-numeric rates as
    rate 0 rather than refusing to start.
    """
    if not rate:
        return (0, 1)

    def _atoi(s: str) -> int:
        m = re.match(r"\s*[+-]?\d+", s)
        return int(m.group(0)) if m else 0

    if "/" in rate:
        n, _, q = rate.partition("/")
        quantum = _atoi(q)
        return (_atoi(n), quantum if quantum > 0 else 1)
    return (_atoi(rate), 1)


@dataclass(frozen=True)
class PdbAction:
    """One <action>: trigger-gated synthetic message emission
    (modules/correlation/pdb-action.c). ``trigger`` is 'match' (the
    batch-meaningful one; 'timeout' belongs to grouping-stage
    correlation, see grouping.correlate), ``condition`` an optional
    template-condition string, ``values``/``tags`` the synthetic
    message payload (templates over the matched row's fields).
    ``rate``/``rate_quantum``: <action rate="N/Ts"> fires at most N
    synthetic messages per T seconds per correlation key (0 =
    unlimited); see apply_match_actions for the batch contract."""

    trigger: str = "match"
    condition: str | None = None
    values: tuple[tuple[str, str], ...] = ()
    tags: tuple[str, ...] = ()
    inherit_properties: bool = True
    rate: int = 0
    rate_quantum: int = 1


@dataclass(frozen=True)
class PdbRule:
    """One <rule>: id, one or more patterns, optional class/tags/values
    and match actions.

    ``values`` entries are (name, template-string) pairs rendered with
    functions.template_compiler when the rule wins (pdb-rule.c values;
    templates resolve extracted fields and any context columns).
    """

    rule_id: str
    pattern: str | tuple[str, ...]
    rule_class: str = ""
    tags: tuple[str, ...] = ()
    values: tuple[tuple[str, str], ...] = ()
    actions: tuple[PdbAction, ...] = ()
    # correlation context attributes (pdb-rule.c / synthetic-context.c):
    # context-id is a TEMPLATE; timeout in seconds; scope widens the key
    context_id: str | None = None
    context_timeout: int = 0
    context_scope: str = "process"

    @property
    def patterns(self) -> tuple[str, ...]:
        return (self.pattern,) if isinstance(self.pattern, str) else tuple(self.pattern)


@dataclass(frozen=True)
class CompiledPattern:
    rule: PdbRule
    body: str                       # regex body WITHOUT ^/$ anchors
    fields: tuple[PdbField, ...]    # in capture-group order (1-based)
    literal_prefix: str             # for the radix-style fast guard
    ordinal: int = -1               # position after longest-prefix sort

    @property
    def regex(self) -> str:
        """Complete-match regex (round-1 API)."""
        return f"^{self.body}$"

    @property
    def rule_id(self) -> str:
        return self.rule.rule_id


def _split_pattern(pattern: str) -> list[tuple[str, str]]:
    """Split into [('lit', text) | ('class', spec)] segments; '@@' = '@'."""
    segs: list[tuple[str, str]] = []
    buf = ""
    i = 0
    in_class = False
    while i < len(pattern):
        ch = pattern[i]
        if ch == "@":
            if not in_class and i + 1 < len(pattern) and pattern[i + 1] == "@":
                buf += "@"
                i += 2
                continue
            segs.append(("class" if in_class else "lit", buf))
            buf = ""
            in_class = not in_class
            i += 1
            continue
        buf += ch
        i += 1
    if in_class:
        raise ValueError(f"unterminated @CLASS@ in pattern: {pattern!r}")
    segs.append(("lit", buf))
    return [(k, v) for k, v in segs if v != "" or k == "class"]


def compile_pattern(rule: PdbRule, pattern: str) -> CompiledPattern:
    """Pattern string -> regex body with ordered capture groups."""
    parts: list[str] = []
    fields: list[PdbField] = []
    prefix = ""
    prefix_open = True
    for kind, val in _split_pattern(pattern):
        if kind == "lit":
            parts.append(re.escape(val))
            if prefix_open:
                prefix += val
            continue
        prefix_open = False
        spec = val.split(":", 2)
        cls = spec[0]
        name = spec[1] if len(spec) > 1 and spec[1] else None
        param = spec[2] if len(spec) > 2 else None
        pre = post = tail = ""
        cast = None
        if cls == "ESTRING":
            if param:
                frag = (
                    f"[^{re.escape(param[0])}]*"
                    if len(param) == 1
                    else f"(?:(?!{re.escape(param)}).)*"
                )
                tail = re.escape(param)
            else:
                frag = ".*"
        elif cls == "QSTRING":
            q = param or '"'
            lq, rq = (q[0], q[-1])
            # radix.c r_parser_qstring: the quotes are consumed but the
            # stored value excludes them (match ofs+1, len-2)
            pre, frag, post = re.escape(lq), f"[^{re.escape(rq)}]*", re.escape(rq)
        elif cls == "SET":
            frag = f"[{re.escape(param or ' ')}]+"
        elif cls == "OPTIONALSET":
            # r_parser_optionalset: like SET but zero-length matches too
            frag = f"[{re.escape(param or ' ')}]*"
        elif cls == "LLADDR":
            k = int(param) if param else 20
            frag = rf"(?:[0-9A-Fa-f]{{2}}:){{0,{k - 1}}}[0-9A-Fa-f]{{2}}"
        elif cls == "EMAIL":
            # param chars are consumed around the address, not captured
            if param:
                bracket = f"[{re.escape(param)}]*"
                pre, frag, post = bracket, _EMAIL_CORE, bracket
            else:
                frag = _EMAIL_CORE
        elif cls == "PCRE":
            if param is None:
                raise ValueError(f"PCRE needs a regex param in {pattern!r}")
            frag = f"(?:{_decapture(param)})"
        elif cls in _CLASS_FRAGMENTS:
            frag, cast = _CLASS_FRAGMENTS[cls]
        else:
            raise ValueError(f"unknown parser class {cls!r} in {pattern!r}")
        parts.append(pre)
        if name:
            parts.append(f"({frag})")
            fields.append(PdbField(name, cast))
        else:
            parts.append(f"(?:{frag})")
        parts.append(post)
        parts.append(tail)
    return CompiledPattern(rule, "".join(parts), tuple(fields), prefix)


@dataclass(frozen=True)
class PdbLeaf:
    """One dispatch-tree leaf: its literal prefix, its members in
    precedence order and its (regex, replacement) pairs — one pair
    carrying both tiers when merged, the complete then the partial
    tier when two-pass (see _build_dispatch)."""

    prefix: str
    members: tuple[CompiledPattern, ...]
    tiers: tuple[tuple[str, str], ...]

    @property
    def strategy(self) -> str:
        return "merged" if len(self.tiers) == 1 else "two-pass"


def _leaf_frame(
    alts: list[tuple[CompiledPattern, bool]], leaf_id: int
) -> tuple[str, str, list[int]]:
    """(regex, repl, block_offsets) for one leaf id: the alternation
    over ``alts`` — (pattern, anchored) pairs in try order, anchored
    ones \\z-terminated (complete tier) — and its LOCAL frame

        \\x03 <leaf-id char> <header> <block_0> ... <block_{m-1}>

    with local capture-group and ordinal numbering. The rendered
    header is m separators plus the one winner-marker byte, so the
    winner's LOCAL ordinal is ``instr(res, \\x02) - 3`` and block j
    starts at the returned compile-time offset."""
    lid = chr(_LEAF_ID_BASE + leaf_id)
    # the id lands in a Java replacement string: '$' (leaf 20) and
    # '\' (leaf 76) are metacharacters there and must be escaped
    lid_repl = lid.replace("\\", "\\\\").replace("$", "\\$")
    body = "|".join(
        f"(?:({MARK}){c.body}\\z)" if anchored else f"(?:({MARK}){c.body})"
        for c, anchored in alts
    )
    header: list[str] = []
    blocks: list[str] = []
    offs: list[int] = []
    # 1-based position of block 0: the 2 prefix chars (\x03 + id)
    # + m separators + 1 marker byte, then +1 for 1-based substr
    off = len(alts) + 4
    g = 0
    for c, _anchored in alts:
        g += 1  # sentinel group
        header.append(f"${g}{BLOCK_SEP}")
        blocks.append(
            "".join(f"${g + j + 1}{FIELD_SEP}" for j in range(len(c.fields)))
            + BLOCK_SEP
        )
        g += len(c.fields)
        offs.append(off)
        off += len(c.fields) + 1
    repl = HIT + lid_repl + "".join(header) + "".join(blocks)
    return (f"^(?:{body})", repl, offs)


class PatternDB:
    """A compiled rule set applicable to a DataFrame text column.

    ``programs``: optional program-selector globs (the ruleset-level
    <patterns> of the pdb document — radix.c routes a message through
    the program trie first); when set, apply(program_col=...) only
    classifies rows whose program matches one of them.
    """

    def __init__(self, rules: list[PdbRule], programs: tuple[str, ...] = ()):
        self.programs = tuple(programs)
        self._plans = JvmMemo()  # apply's staged projections
        self._init_rules(rules)

    def _init_rules(self, rules: list[PdbRule]):
        compiled = [
            compile_pattern(r, p) for r in rules for p in r.patterns
        ]
        # radix preference: longest literal prefix first (more specific
        # rules win), declaration order as tiebreak — mirrors the
        # trie's longest-match walk without building a trie
        ordered = sorted(compiled, key=lambda c: -len(c.literal_prefix))
        self.patterns = [
            CompiledPattern(c.rule, c.body, c.fields, c.literal_prefix, i)
            for i, c in enumerate(ordered)
        ]
        self.field_names = sorted(
            {f.name for c in self.patterns for f in c.fields}
        )
        self._casts: dict[str, str | None] = {}
        for c in self.patterns:
            for f in c.fields:
                self._casts.setdefault(f.name, f.cast)
        self.value_names = sorted(
            {name for r in rules for name, _ in r.values}
        )
        self.src_rules = list(rules)
        self._build_dispatch()

    def _build_dispatch(self):
        """Literal-prefix dispatch tree — the radix-trie analog
        (radix.c walks shared literal prefixes in ~O(len); a single
        flat alternation makes the regex engine attempt every
        alternative per row, O(rules)). Patterns are grouped by exact
        literal prefix; a binary when() tree over the SORTED prefixes
        routes each row to one small per-prefix alternation in
        O(log groups) string compares, so per-row regex cost stays
        ~flat as the ruleset grows. A ruleset with no literal prefix,
        or only one, is a single root leaf holding every pattern (no
        when() at all).

        Correctness of the range dispatch: if a text T starts with any
        group prefix Q, then Q <= T lexicographically, and for the
        largest prefix P <= T every such Q is a prefix of P (first
        differing char would contradict P <= T). Each leaf therefore
        contains its exact-prefix patterns plus every pattern whose
        prefix is a proper prefix of it (including the empty-prefix
        catch-alls), in global precedence order — rows routed to a
        leaf they don't actually prefix-match just fail those
        alternatives and fall through to the ancestors/catch-alls.

        Each leaf renders LOCAL frames (module docstring) over its own
        members only, O(leaf members) bytes per row: a global frame
        over all rules cost O(total rules) bytes of losing-block
        separators per row, which at 200 rules dominated apply().

        Tier strategy per leaf, from its member count k: k <=
        _MERGE_MAX_MEMBERS merges both tiers into one 2k-alternative
        regex (one leaf id); wider leaves get one k-alternative regex
        per tier (two leaf ids, the partial tier gated on a complete
        miss). Measured: merged wins on 2-member leaves (apply 10.48
        -> 9.66 s at 50 rules), two-pass on wide ones (18.8 -> 11.7 s
        for one 50-member leaf, 5M rows). tools/profile_pdb_variants.py
        A/Bs the two on one root leaf of k prefix-less rules: even at
        k=2, merged 10-37% slower from k=4 on — hence the threshold of
        2, which also keeps every leaf of the fixture and 50-rule
        benchmark rulesets merged (table at _MERGE_MAX_MEMBERS)."""
        prefixes = {c.literal_prefix for c in self.patterns if c.literal_prefix}
        n = len(self.patterns)
        self.leaves: list[PdbLeaf] = []
        self._leaf_idx_map: list[list[int]] = []
        self._leaf_off_map: list[list[int]] = []
        for k in sorted(prefixes) or [""]:
            members = [c for c in self.patterns if k.startswith(c.literal_prefix)]
            if not members:  # an empty ruleset has no leaf
                continue
            complete = [(c, True) for c in members]
            partial = [(c, False) for c in members]
            merged = len(members) <= _MERGE_MAX_MEMBERS
            tiers = []
            for alts in [complete + partial] if merged else [complete, partial]:
                leaf_id = len(self._leaf_idx_map)
                if leaf_id >= _MAX_LEAF_IDS:
                    raise ValueError(
                        f"ruleset needs more than {_MAX_LEAF_IDS} dispatch "
                        f"leaf ids ({len(prefixes)} distinct literal prefixes)"
                    )
                regex, repl, offs = _leaf_frame(alts, leaf_id)
                tiers.append((regex, repl))
                self._leaf_idx_map.append(
                    [c.ordinal + (0 if anchored else n) for c, anchored in alts]
                )
                self._leaf_off_map.append(offs)
            self.leaves.append(PdbLeaf(k, tuple(members), tuple(tiers)))
        # JIT note (round-4): one monolithic when()-tree over many
        # leaves generates a single codegen method whose bytecode
        # grows ~linearly with the leaf count (~1 KB/leaf; 48,889 at
        # 50 leaves) — past HotSpot's default DontCompileHugeMethods
        # ceiling (8000) such a method silently runs interpreted at a
        # measured ~30x per-expression cost. The fix that MEASURED
        # fastest is lifting the ceiling (-XX:-DontCompileHugeMethods,
        # set by session.get_spark; 50-rule 5M-row apply 31s -> 10s,
        # within 1.4x of the 4-rule flagship; C2 still compiles the
        # tree at 200 leaves, 13.3s/2M rows). Plan-restructuring
        # alternatives were all built and measured slower: chained
        # 6-leaf chunk columns (11.7s @50, 25s+ @200 — Spark never
        # splits per-operator consume methods because
        # ProjectExec.usedInputs only counts attrs referenced twice),
        # per-leaf guard columns, row-mode islands, and
        # methodSplitThreshold (no-ops on a monolithic CaseWhen).

    def _leaf_lookup(self, res: Column, table: list[list[int]]) -> Column:
        """Decode (leaf id, local ordinal) from a framed result and
        look the pair up in a ragged 2D compile-time table. In range
        by construction whenever the result carries the \\x03 hit
        prefix (the caller guards). The table is one SQL literal (one
        JVM call, see _lut)."""
        arr2d = literal_array(table, "array<int>")
        leaf1 = F.ascii(F.substring(res, 2, 1)) - (_LEAF_ID_BASE - 1)
        local1 = F.instr(res, MARK) - 2
        return F.element_at(F.element_at(arr2d, leaf1), local1)

    def _route(self, text: Column, leaf_expr) -> Column:
        """Binary-search when() tree over the sorted leaf prefixes with
        ``leaf_expr(leaf)`` at the leaves (no when() for one leaf).
        Rows lexicographically below every prefix land in leaf 0,
        above every prefix in the last leaf — both only ever match
        their catch-all alternatives there. NULL text propagates NULL
        through every branch."""
        leaves = self.leaves

        def build(lo: int, hi: int) -> Column:
            if hi - lo == 1:
                return leaf_expr(leaves[lo])
            mid = (lo + hi) // 2
            return F.when(text < leaves[mid].prefix, build(lo, mid)).otherwise(
                build(mid, hi)
            )

        return build(0, len(leaves))

    def _first_tier(self, text: Column) -> Column:
        """The routed leaf's first regex — both tiers on a merged leaf,
        the complete tier on a two-pass one — rendered into the framed
        result, or the marked input unchanged (it starts with \\x02,
        not \\x03) when no alternative matched."""
        marked = F.concat(F.lit(MARK), text)
        return self._route(
            text, lambda leaf: F.regexp_replace(marked, *leaf.tiers[0])
        )

    def _partial_tier(self, text: Column, first: Column) -> Column:
        """Two-pass leaves' partial-tier regex, on the rows their
        complete tier missed (``first`` still starts with \\x02);
        every other row keeps ``first``. ``first`` should be a staged
        column: it is referenced at each leaf."""
        return F.when(
            first.startswith(MARK),
            self._route(
                text,
                lambda leaf: F.regexp_replace(first, *leaf.tiers[1])
                if leaf.strategy == "two-pass"
                else first,
            ),
        ).otherwise(first)

    @property
    def _two_pass(self) -> bool:
        return any(leaf.strategy == "two-pass" for leaf in self.leaves)

    # --- single-execution classify + extract machinery ---

    def _decode(self, res: Column) -> tuple[Column, Column]:
        """(winning global index, winner's block offset) from a framed
        result: leaf id + local ordinal through the _leaf_idx_map and
        _leaf_off_map tables (partial-tier entries already carry the +N
        offset). Both NULL when no regex matched (the result still
        starts with \\x02), so unmatched rows never index the tables."""
        hit = res.startswith(HIT)
        return (
            F.when(hit, self._leaf_lookup(res, self._leaf_idx_map)).cast("int"),
            F.when(hit, self._leaf_lookup(res, self._leaf_off_map)),
        )

    @staticmethod
    def _lut(values: list, idx_mod: Column, typ: str) -> Column:
        """O(1) per-row lookup into a constant-folded literal array —
        per-rule metadata (rule_id/class/tags/group offsets) must NOT
        be when-chains: those cost O(rules) per row and blow past the
        codegen method-size limit on big rulesets.

        The isNotNull guard is load-bearing: Spark's element_at with a
        NULL *column* index returns the LAST element (it behaves like
        index -1) instead of NULL — unmatched rows would read rule N-1's
        metadata.

        Note on construction: the table is rendered as ONE Spark SQL
        literal (literal_array: one F.expr, one JVM call). F.lit(values)
        in PySpark 4.1.2 expands to array(*[lit(x)...]), one py4j round
        trip per element: a 50-rule apply() made ~11k py4j calls and
        took 1.3-2.1 s to build; with the SQL literals (and the
        session's call-site capture off) ~1.5-2.9k calls and
        0.4-0.9 s. Either way the all-literal CreateArray under one
        array-level cast is foldable, and Catalyst's ConstantFolding
        collapses it to one plan-time Literal, so the table is NOT
        rebuilt per row. The all-None short-circuit below and the
        single array-level cast were the measured ~12s win on the
        50-rule 5M-row apply()."""
        if all(v is None for v in values):
            return F.lit(None).cast(typ)
        arr = literal_array(values, typ)
        return F.when(idx_mod.isNotNull(), F.element_at(arr, idx_mod + 1))

    def _rule_id_for(self, idx: Column) -> Column:
        n = len(self.patterns)
        if not self.patterns:
            return F.lit(None).cast("string")
        return self._lut(
            [c.rule.rule_id for c in self.patterns], idx % n, "string"
        )

    def _groups_from_result(self, res: Column, off: Column) -> Column:
        """Field values of the winning alternative, sliced out of the
        framed result at its compile-time byte offset ``off`` (see
        _decode) — the winner's block runs from there to its \\x01
        terminator (field j at split element j, 1-based; the
        partial-tier message remainder sits after the LAST block and
        never reaches the slice). Zero additional regex work, zero
        O(rules) splitting/scanning per row.

        The identity ``transform`` is a DELIBERATE whole-stage-codegen
        stage break, not a no-op to clean up: higher-order functions
        are codegen-fallback, so Spark materializes a row here and
        starts a fresh codegen unit for the downstream field/value
        fan-out. Without it the entire apply() pipeline fuses into ONE
        generated method (~128 KB source for even a 4-rule set) that
        exceeds the JVM JIT's huge-method bytecode limit (~8 KB) and
        silently runs in the bytecode interpreter — measured 3-4x
        slower end-to-end. The split keeps both halves JIT-compiled;
        its cost is one small-array copy per row."""
        block = F.substring_index(
            res.substr(off, F.length(res)), BLOCK_SEP, 1
        )
        groups = F.when(off.isNotNull(), F.split(block, FIELD_SEP))
        return F.transform(groups, lambda v: v)

    def program_filter(self, program: Column) -> Column:
        """Program-selector match (ruleset <patterns> globs)."""
        from axosyslog_spark.operators.filters import glob_match

        if not self.programs:
            return F.lit(True)
        m = F.lit(False)
        for g in self.programs:
            m = m | F.coalesce(glob_match(program, g), F.lit(False))
        return m

    def apply_match_actions(
        self,
        df: DataFrame,
        order_col: str = "turn_idx",
    ) -> DataFrame:
        """trigger='match' <actions>: every matched row whose rule
        carries an action (and passes its condition) emits ONE
        synthetic row with the action's <values> rendered and its
        <tags> in pdb_tags; inherit-properties keeps the original
        columns underneath (pdb-action.c / synthetic-message.c).
        Expects a frame already through apply() (rule_id + fields).
        Timeout-triggered actions are correlation-context constructs —
        see grouping.correlate.

        ``rate``-limited actions (<action rate="N/Ts">,
        pdb-ratelimit.c:1-56 + patterndb.c _is_action_within_rate_limit)
        fire at most N synthetic rows per T-second EVENT-TIME bucket
        per correlation key (the rule's context-scope columns +
        rule:action identity — the reference keys its token bucket by
        correlation_key(scope, msg, "rule_id:action_id")). Same
        windowed-allowance contract as grouping.rate_limit_bucket:
        the reference's wall-clock token bucket carries fractional
        credits across arrivals, which is inherently sequential; the
        event-time bucket admits the same steady-state N per T and is
        deterministic under replay. Ordered by ``order_col`` within a
        bucket (falls back to ``ts``, then arbitrary). Unrated
        actions are untouched (rate 0 = unlimited, like the
        reference's early return).

        Pass-through semantics: returns original rows (synthetic=false)
        + synthetic rows (synthetic=true), like inject-mode
        pass-through.

        Plan shape: ONE pass regardless of action count — every
        (rule, action) compiles to a conditional struct in a single
        array; `explode(filter(array, nonnull))` emits the firing
        actions' rows. A 500-action ruleset therefore costs one
        Generate node, not 500 unions (round-2 verdict item: the
        per-(rule,action) union grew plan width O(actions))."""
        from axosyslog_spark.functions.template_compiler import (
            TemplateContext,
            compile_template,
            parse_condition,
        )

        base = df.withColumn("synthetic", F.lit(False))
        match_actions = [
            (rule, action)
            for rule in self.src_rules
            for action in rule.actions
            if action.trigger == "match"
        ]
        if not match_actions:
            return base
        ctx = TemplateContext(
            columns={f: F.col(f) for f in self.field_names}, field_fallback=True
        )
        # all value names any action writes; every struct carries all of
        # them (inherited-or-rendered) so the array element type is fixed
        value_names = sorted({n for _, a in match_actions for n, _ in a.values})

        def _inherit(name: str) -> Column:
            if name in df.columns:
                return F.col(name).cast("string")
            return F.lit(None).cast("string")

        inherit_tags = (
            F.col("pdb_tags")
            if "pdb_tags" in df.columns
            else F.lit(None).cast("array<string>")
        )
        structs: list[Column] = []
        for ordn, (rule, action) in enumerate(match_actions):
            cond = F.col("rule_id") == rule.rule_id
            if action.condition:
                cond = cond & parse_condition(action.condition, ctx)
            vals = dict(action.values)
            fields = [
                (
                    compile_template(vals[n], ctx) if n in vals else _inherit(n)
                ).alias(n)
                for n in value_names
            ]
            tags = (
                literal_array(action.tags, "string")
                if action.tags
                else inherit_tags
            )
            structs.append(
                F.when(
                    cond,
                    F.struct(
                        *fields,
                        tags.alias("pdb_tags"),
                        F.lit(ordn).alias("__ord"),
                    ),
                )
            )
        fired = F.filter(F.array(*structs), lambda s: s.isNotNull())
        synth = df.withColumn("__pdb_act", F.explode(fired))
        synth = synth.withColumns(
            {
                **{n: F.col(f"__pdb_act.{n}") for n in value_names},
                "pdb_tags": F.col("__pdb_act.pdb_tags"),
                "__pdb_ord": F.col("__pdb_act.__ord"),
                "synthetic": F.lit(True),
            }
        ).drop("__pdb_act")
        synth = self._rate_limit_actions(synth, match_actions, order_col)
        return base.unionByName(synth.drop("__pdb_ord"), allowMissingColumns=True)

    @staticmethod
    def _rate_limit_actions(
        synth: DataFrame, match_actions, order_col: str
    ) -> DataFrame:
        """First-N-per-(correlation key, event-time bucket) filter over
        the exploded synthetic rows — see apply_match_actions. One
        window shuffle over the synthetic rows ONLY, and only when at
        least one action declares a rate."""
        if not any(a.rate for _, a in match_actions):
            return synth
        from axosyslog_spark.operators.grouping import (
            _CONTEXT_SCOPE_COLS,
            event_time_bucket,
            first_n,
        )

        ordn = F.col("__pdb_ord")
        rates = literal_array([a.rate for _, a in match_actions], "int")
        quanta = literal_array(
            [max(a.rate_quantum, 1) for _, a in match_actions], "int"
        )
        rate_v = F.element_at(rates, ordn + 1)
        # correlation key per the firing action's rule scope: only the
        # scope columns present in the frame widen the key (a missing
        # column is a NULL key part in the reference, constant here)
        scope_key = F.lit("")
        for i, (rule, action) in enumerate(match_actions):
            if not action.rate:
                continue
            cols = [
                F.col(c)
                for c in _CONTEXT_SCOPE_COLS.get(rule.context_scope, ())
                if c in synth.columns
            ]
            scope_key = F.when(
                ordn == i, F.concat_ws("\x1f", *cols) if cols else F.lit("")
            ).otherwise(scope_key)
        if "ts" in synth.columns:
            bucket = event_time_bucket(F.col("ts"), F.element_at(quanta, ordn + 1))
        else:
            bucket = F.lit(0)
        order = (
            F.col(order_col)
            if order_col in synth.columns
            else (F.col("ts") if "ts" in synth.columns else F.lit(1))
        )
        return first_n(synth, [ordn, scope_key, bucket], order, rate_v, zero_unlimited=True)

    def apply(
        self,
        df: DataFrame,
        text_col: str = "text",
        prefix: str = "",
        with_class: bool = False,
        with_tags: bool = False,
        program_col: str | None = None,
    ) -> DataFrame:
        """Adds rule_id + one typed column per named field (+ optional
        rule_class / pdb_tags / rendered <values> columns).

        Field values come from the winning pattern only (NULL
        elsewhere), so rules sharing a field name compose like the
        reference's unified NV namespace.

        Deliberate projection staging: each heavy subtree (the leaf
        tier regexes, the winning index, the groups array) is
        materialized once as a plain attribute reference before
        anything fans out over it — folding them into one select would
        re-evaluate the regex per referencing column (Catalyst's
        CollapseProject keeps multiply-referenced non-cheap aliases
        staged, which is exactly what we rely on).

        The staged projections are built once per JVM and arguments
        and kept on the instance: parse_header plus a 50-rule apply
        made 1,561 py4j calls on every build, a replay makes 129. The
        <values> columns read ``df.columns``, so only a ruleset with
        <values> keys the projections on the input's columns too.
        """
        key = (text_col, prefix, with_class, with_tags, program_col)
        if self.value_names:
            key += (tuple(df.columns),)
        stages = self._plans.get(key, lambda: self._stages(*key))
        for cols, drop in stages:
            # withColumn is one py4j call; withColumns converts its
            # arguments element by element
            if len(cols) == 1:
                df = df.withColumn(*next(iter(cols.items())))
            elif cols:
                df = df.withColumns(cols)
            if drop:
                df = df.drop(*drop)
        return df

    def _stages(
        self,
        text_col: str,
        prefix: str,
        with_class: bool,
        with_tags: bool,
        program_col: str | None,
        columns: tuple[str, ...] = (),
    ) -> list[tuple[dict[str, Column], tuple[str, ...]]]:
        """apply's projections in order, each (columns to add, columns
        to drop after it); ``columns`` are the input's, read only by
        the <values> stage."""
        text = strip_framing_bytes(F.col(text_col))
        n = len(self.patterns)
        idx_col, groups_col = f"__pdb_idx{prefix}", f"__pdb_groups{prefix}"
        r_col = f"__pdb_r{prefix}"
        stages: list[tuple[dict[str, Column], tuple[str, ...]]] = []
        if not self.patterns:
            stages.append((
                {idx_col: F.lit(None).cast("int"),
                 groups_col: F.lit(None).cast("array<string>")},
                (),
            ))
        else:
            gated = text
            if program_col is not None and self.programs:
                # program-selector gate: rows from other programs never
                # run the message regexes (the program-trie hop of
                # radix.c) — NULL text short-circuits the regex
                gated = F.when(self.program_filter(F.col(program_col)), text)
            # materialize the sanitized (and program-gated) text ONCE:
            # the dispatch-tree compares reference it at every node,
            # and an inline expression would re-run the translate per
            # reference per row
            txt_col = f"__pdb_txt{prefix}"
            stages.append(({txt_col: gated}, ()))
            gated = F.col(txt_col)
            # stage 1 — the routed leaf's tier regexes (one execution
            # per row on merged leaves; on two-pass leaves the partial
            # tier only where the staged complete tier missed); stage
            # 2 — framed result -> global ordinal and block offset
            # (leaf-table lookups), kept in whole-stage codegen below
            # stage 3's stage break; stage 3 — winner's block sliced
            # out at that offset
            stages.append(({r_col: self._first_tier(gated)}, ()))
            if self._two_pass:
                stages.append(({r_col: self._partial_tier(gated, F.col(r_col))}, ()))
            off_col = f"__pdb_off{prefix}"
            idx, off = self._decode(F.col(r_col))
            stages.append(({idx_col: idx, off_col: off}, ()))
            stages.append((
                {groups_col: self._groups_from_result(F.col(r_col), F.col(off_col))},
                (r_col, txt_col, off_col),
            ))
        idx = F.col(idx_col)
        mod = idx % max(n, 1)
        proj2 = {
            f"{prefix}rule_id": self._rule_id_for(idx),
        }
        if with_class:
            proj2[f"{prefix}rule_class"] = self._lut(
                [c.rule.rule_class or None for c in self.patterns], mod, "string"
            )
        if with_tags:
            proj2[f"{prefix}pdb_tags"] = self._lut(
                [list(c.rule.tags) or None for c in self.patterns],
                mod,
                "array<string>",
            )
        stages.append((proj2, ()))
        groups = F.col(groups_col)

        # field extraction: per-field constant int array mapping ordinal
        # -> groups element (field j of the winner at element j, see
        # _groups_for); two element_at's per field per row, O(1) in the
        # ruleset size
        field_cols: dict[str, Column] = {}
        for name in self.field_names:
            offsets: list[int | None] = []
            for c in self.patterns:
                gi = next(
                    (i + 1 for i, f in enumerate(c.fields) if f.name == name), None
                )
                offsets.append(gi)
            gi_col = self._lut(offsets, mod, "int")
            # same NULL-index guard as _lut: a matched row whose rule
            # lacks this field has gi NULL but groups non-NULL
            expr = F.when(gi_col.isNotNull(), F.element_at(groups, gi_col))
            cast = self._casts.get(name)
            if cast:
                # try_cast: a value the pattern accepts but the type
                # cannot hold (an @NUMBER@ past bigint) is NULL, not a
                # job abort under ANSI casts
                expr = F.nullif(expr, F.lit("")).try_cast(cast)
            field_cols[f"{prefix}{name}"] = expr
        stages.append((field_cols, ()))

        if self.value_names:
            from axosyslog_spark.functions.template_compiler import (
                TemplateContext,
                compile_template,
            )

            present = {*columns, *proj2, *field_cols}
            ctx = TemplateContext(
                columns={f: F.col(f"{prefix}{f}") for f in self.field_names}
            )
            value_cols: dict[str, Column] = {}
            for name in self.value_names:
                expr = (
                    F.col(f"{prefix}{name}").cast("string")
                    if f"{prefix}{name}" in present
                    else F.lit(None).cast("string")
                )
                # when-chain only over the rules that define this value
                # (usually a handful); the per-rule metadata lookups
                # above are array-based for O(1) scaling
                for c in reversed(self.patterns):
                    tmpl = dict(c.rule.values).get(name)
                    if tmpl is not None:
                        expr = F.when(
                            mod == c.ordinal,
                            compile_template(tmpl, ctx),
                        ).otherwise(expr)
                value_cols[f"{prefix}{name}"] = expr
            stages.append((value_cols, ()))

        last, _ = stages.pop()
        stages.append((last, (idx_col, groups_col)))
        return stages
