"""One regex execution per row: the match-groups kernel and the
in-band framing format it shares with PatternDB.

The reference runs a regex once per message; that one match fills the
match groups $0..$255 (lib/logmsg/logmsg.h:64,283,655-669). Here one
``regexp_replace`` of ``\\A[\\s\\S]*?(P)[\\s\\S]*\\z`` (no lazy lead when P
is ^-anchored) renders P's first match, the leftmost ``find()`` would
take, as \\x03 \\x04 $0 \\x04 $1 ... $n, and one ``split`` makes it the
array [\\x03, $0, ..., $n] ([text] on a miss). Character-class runs
cost no stack frame per character on a long row; wrapping P in the $0
group shifts its numbered backreferences (\\1 -> \\2).

Stage the array with ``with_matches``: a Project is no reliable stage,
as a Filter above it (a parser's drop, an app-parser branch) is pushed
below it with the regex re-inlined (62 copies of the RFC3164 regexes in
``default_network_drivers``' plan), but no Filter that reads a
generator's output moves below the generator.

In-band framing contract: frames need text free of \\x01-\\x04, so this
kernel and PatternDB strip them first (``strip_framing_bytes``). Syslog
payloads never legitimately carry them (the reference's line-based
sources strip control bytes too); hostile input matches as its
stripped text.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BLOCK_SEP = "\x01"   # separates PatternDB's sentinels and blocks
MARK = "\x02"        # PatternDB: prepended to the text, captured by the winner
HIT = "\x03"         # result prefix proving the framed regex matched
FIELD_SEP = "\x04"   # separates group values in a frame


def strip_framing_bytes(text: Column) -> Column:
    """Enforce the in-band framing contract with one JVM-side translate.
    It MUST stay a single-reference expression: a contains()-gated
    variant referenced the text six times and, re-inlined into every
    PatternDB dispatch node by CollapseProject, blew past Janino's
    64 KB method limit and OOMed the interpreted fallback
    (docs/PLANS.md, round 5)."""
    return F.translate(text, BLOCK_SEP + MARK + HIT + FIELD_SEP, "")


def regex_tokens(pattern: str):
    """(offset, token) for each token of `pattern` outside character
    classes: an escape (backslash plus one character) or a character."""
    i, in_class = 0, False
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\":
            if not in_class:
                yield i, pattern[i : i + 2]
            i += 1
        elif in_class:
            in_class = ch != "]"
        elif ch == "[":
            in_class = True
        else:
            yield i, ch
        i += 1


_NAMED_GROUP = re.compile(r"\(\?P?<([A-Za-z_][A-Za-z0-9_]*)>")


def capturing_groups(pattern: str) -> list[str | None]:
    """Names of the capturing groups of `pattern` in ordinal order
    (None = unnamed), numbered as PCRE does: every '(' that is not a
    (?:/(?=/(?i)... construct captures; (?<name>...) under a name."""
    names: list[str | None] = []
    for i, tok in regex_tokens(pattern):
        if tok == "(":
            named = _NAMED_GROUP.match(pattern, i)
            if named or pattern[i : i + 2] != "(?":
                names.append(named and named.group(1))
    return names


def _shift_backrefs(pattern: str, n_groups: int) -> str:
    """`pattern` with each numbered backreference \\k made \\k+1. As in
    Java, a digit run reads as the longest number not above the group
    count; a literal digit after it is kept apart by (?:)."""
    out, last = [], 0
    for i, tok in regex_tokens(pattern):
        if len(tok) == 2 and tok[1] in "123456789":
            j = i + 2
            while pattern[j : j + 1].isdigit() and int(pattern[i + 1 : j + 1]) <= n_groups:
                j += 1
            tail = "(?:)" if pattern[j : j + 1].isdigit() else ""
            out += [pattern[last:i], f"\\{int(pattern[i + 1 : j]) + 1}{tail}"]
            last = j
    return "".join(out) + pattern[last:]


def _anchored(pattern: str) -> bool:
    """Whether every top-level alternative of `pattern` starts with '^'."""
    depth, alt_start = 0, True
    for _, tok in regex_tokens(pattern):
        if alt_start and tok != "^":
            return False
        depth += (tok == "(") - (tok == ")")
        alt_start = tok == "|" and depth == 0
    return not alt_start


def framed_regex(pattern: str) -> tuple[str, str]:
    """(regex, replacement) of match_groups' one regexp_replace."""
    n = len(capturing_groups(pattern))
    lead = "" if _anchored(pattern) else r"[\s\S]*?"
    repl = HIT + "".join(f"{FIELD_SEP}${g}" for g in range(1, n + 2))
    return rf"\A{lead}({_shift_backrefs(pattern, n)})[\s\S]*\z", repl


def match_groups(text: Column, pattern: str) -> Column:
    """The first match of `pattern` (Java regex) in `text`: [\\x03, $0,
    $1, ..., $n] on a match, [text] otherwise, NULL for NULL."""
    framed = F.regexp_replace(strip_framing_bytes(text), *framed_regex(pattern))
    return F.split(framed, FIELD_SEP)


def with_matches(df: DataFrame, matches: dict[str, Column]) -> DataFrame:
    """`df` plus one column per (name, match_groups array, possibly
    gated by when()), staged through a one-row inline (module
    docstring) so every later read sees one execution of each regex."""
    row = F.struct(*[m.alias(name) for name, m in matches.items()])
    return df.select("*", F.inline(F.array(row)))


def matched(m: Column) -> Column:
    """Whether the pattern matched, an empty match included (as the
    reference's match() says); NULL for NULL text."""
    return F.element_at(m, 1) == HIT


def group(m: Column, i: int) -> Column:
    """Group $i (0 = the whole match); "" when the group took no part
    in the match, NULL when the pattern missed."""
    return F.when(matched(m), F.try_element_at(m, F.lit(i + 2)))


def extract(m: Column, i: int) -> Column:
    """Group $i with regexp_extract's contract: "" also when the
    pattern missed, NULL only for NULL text."""
    return F.when(m.isNotNull(), F.coalesce(group(m, i), F.lit("")))
