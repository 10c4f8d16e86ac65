"""Rewrite stage: per-message column edits (lib/rewrite/).

Every reference rewrite is an in-place mutation of one message; in
Spark each is a projection — Catalyst collapses consecutive rewrites
into a single whole-stage-codegen'd select, so a chain of N rewrites
costs one pass regardless of N (the reference pays a pipe hop each).
"""

from __future__ import annotations

import fnmatch
from collections.abc import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from axosyslog_spark.operators.filters import glob_match


def set_value(df: DataFrame, name: str, value: Column | str) -> DataFrame:
    """set(value) — rewrite-set.c. `value` may be a Column (template
    analog) or a literal string."""
    return df.withColumn(name, value if isinstance(value, Column) else F.lit(value))


def unset(df: DataFrame, *names: str) -> DataFrame:
    """unset() — rewrite-unset.c."""
    return df.drop(*names)


def rename(df: DataFrame, src: str, dst: str) -> DataFrame:
    """rename() — rewrite-rename.c (move semantics: src disappears)."""
    return df.withColumnRenamed(src, dst)


def subst(
    df: DataFrame,
    pattern: str,
    replacement: str,
    value: str = "text",
    global_: bool = True,
) -> DataFrame:
    """subst() — rewrite-subst.c. Default substitutes the FIRST match
    only (flags(global) enables all) — reference default is non-global;
    regexp_replace is global, so non-global anchors via a capture trick.
    """
    col = F.col(value)
    if global_:
        return df.withColumn(value, F.regexp_replace(col, pattern, replacement))
    # non-global: splice the replacement over the first match only.
    # (valid for patterns without anchors/lookaround: the first literal
    # occurrence of the matched text is the match site)
    m = F.regexp_extract(col, pattern, 0)
    repl = F.regexp_replace(m, pattern, replacement)
    pos = F.instr(col, m)
    spliced = F.concat(
        col.substr(F.lit(1), pos - 1),
        repl,
        col.substr(pos + F.length(m), F.length(col)),
    )
    return df.withColumn(value, F.when(m == "", col).otherwise(spliced))


def set_tag(df: DataFrame, tag: str, tags_col: str = "tags") -> DataFrame:
    """set-tag() — rewrite-set-tag.c (idempotent: set semantics)."""
    return df.withColumn(
        tags_col,
        F.when(
            F.array_contains(F.col(tags_col), tag), F.col(tags_col)
        ).otherwise(F.array_append(F.col(tags_col), F.lit(tag))),
    )


def clear_tag(df: DataFrame, tag: str, tags_col: str = "tags") -> DataFrame:
    """clear-tag() — rewrite-set-tag.c."""
    return df.withColumn(tags_col, F.array_remove(F.col(tags_col), tag))


def set_severity(df: DataFrame, severity: Column | int) -> DataFrame:
    """set-severity() — rewrite-set-severity.c; keeps pri consistent."""
    sev = severity if isinstance(severity, Column) else F.lit(severity)
    return df.withColumn("severity", sev.cast("int")).withColumn(
        "pri", (F.col("facility") * 8 + F.col("severity")).cast("int")
    )


# syslog-names.c sl_severities: every textual alias, case-insensitive
_SEVERITY_ALIASES: dict[str, int] = {
    "emerg": 0, "emergency": 0, "panic": 0, "alert": 1,
    "crit": 2, "critical": 2, "err": 3, "error": 3,
    "warning": 4, "warn": 4, "notice": 5,
    "info": 6, "informational": 6, "debug": 7,
}


def severity_by_name(name: Column) -> Column:
    """Textual-or-numeric severity resolution used by set-severity()
    (rewrite-set-severity.c _convert_severity): a 0..7 numeric string,
    else a case-insensitive alias from syslog-names.c sl_severities.
    NULL when neither resolves — callers keep the previous severity
    then (the reference logs a debug message and leaves the message
    unchanged)."""
    alias_map = F.create_map(
        *[
            F.lit(x)
            for k, v in _SEVERITY_ALIASES.items()
            for x in (k, v)
        ]
    )
    num = F.trim(name).try_cast("int")
    return F.coalesce(
        F.when((num >= 0) & (num <= 7), num),
        F.element_at(alias_map, F.lower(F.trim(name))),
    ).cast("int")


def set_facility(df: DataFrame, facility: Column | int) -> DataFrame:
    """set-facility() — rewrite-set-facility.c."""
    fac = facility if isinstance(facility, Column) else F.lit(facility)
    return df.withColumn("facility", fac.cast("int")).withColumn(
        "pri", (F.col("facility") * 8 + F.col("severity")).cast("int")
    )


def set_pri(df: DataFrame, pri: Column | int) -> DataFrame:
    """set-pri() — rewrite-set-pri.c; severity/facility re-derived."""
    p = pri if isinstance(pri, Column) else F.lit(pri)
    return (
        df.withColumn("pri", p.cast("int"))
        .withColumn("severity", (F.col("pri") % 8).cast("int"))
        .withColumn("facility", ((F.col("pri") - F.col("pri") % 8) / 8).cast("int"))
    )


def groupset(
    df: DataFrame, value: Column, map_col: str = "kv", key_glob: str = "*"
) -> DataFrame:
    """groupset() — rewrite-groupset.c: apply a value to every matching
    key of the open-schema map column (LMF_GLOB over field names)."""
    return df.withColumn(
        map_col,
        F.transform_values(
            F.col(map_col),
            lambda k, v: F.when(glob_match(k, key_glob), value).otherwise(v),
        ),
    )


def map_value_pairs(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """map-value-pairs() — bulk rename/copy per value-pairs spec
    (modules/map-value-pairs/)."""
    out = df
    for src, dst in mapping.items():
        out = out.withColumn(dst, F.col(src))
    return out


def fix_timezone(df: DataFrame, ts_col: str, tz: str) -> DataFrame:
    """fix-timezone() — modules/timestamp/rewrite-fix-timezone.c:
    reinterpret the wall-clock fields of the stamp in another zone."""
    return df.withColumn(ts_col, F.to_utc_timestamp(F.col(ts_col), tz))


def set_timezone(df: DataFrame, ts_col: str, tz: str) -> DataFrame:
    """set-timezone() — convert the stamp into the given zone's wall
    clock (rewrite-set-timezone.c)."""
    return df.withColumn(ts_col, F.from_utc_timestamp(F.col(ts_col), tz))


_GUESS_TIMEZONE_CANDIDATES = [
    "UTC", "America/New_York", "America/Los_Angeles",
    "Europe/London", "Europe/Budapest", "Asia/Tokyo",
]


def guessed_zone(stamp: Column, recvd: Column) -> Column:
    """The candidate zone whose UTC reinterpretation of the (naively
    parsed) stamp lands closest to the receive time: one |delta| per
    candidate and an argmin when-chain. The first zone in list order
    wins ties, and is the answer when either stamp is NULL."""
    tzs = _GUESS_TIMEZONE_CANDIDATES
    deltas = {
        tz: F.abs(
            F.unix_timestamp(F.to_utc_timestamp(stamp, tz))
            - F.unix_timestamp(recvd)
        )
        for tz in tzs
    }
    best = F.least(*deltas.values())
    pick = F.lit(tzs[0])
    for tz in reversed(tzs):
        pick = F.when(deltas[tz] == best, F.lit(tz)).otherwise(pick)
    return pick


def guess_timezone(
    df: DataFrame,
    ts_col: str,
    recvd_col: str,
    out_col: str = "guessed_tz",
) -> DataFrame:
    """guess-timezone() — modules/timestamp/rewrite-guess-timezone.c:
    ``out_col`` names the guessed zone (guessed_zone) and
    ``<ts_col>_fixed`` is the stamp reinterpreted in it, all in one
    projection."""
    out = df.withColumn(
        out_col, guessed_zone(F.col(ts_col), F.col(recvd_col))
    )
    return out.withColumn(
        ts_col + "_fixed",
        F.to_utc_timestamp(F.col(ts_col), F.col(out_col)),
    )


# value-pairs scopes (lib/value-pairs/value-pairs.c:126-137): named
# column sets over our fixed schema
VALUE_PAIRS_SCOPES: dict[str, list[str]] = {
    "rfc3164": ["pri", "msg_ts", "host", "appname", "procid", "body"],
    "rfc5424": ["pri", "msg_ts", "host", "appname", "procid", "sdata", "body"],
    "core": ["conv_id", "turn_idx", "role", "tool", "ts", "text"],
    "selected-macros": ["severity", "facility", "tags"],
    "everything": ["*"],
    "none": [],
}


def apply_key_transforms(key: str, transforms: list[tuple]) -> str:
    """The full rekey transform set of lib/value-pairs/transforms.c,
    applied in order:

      ("add-prefix", p)           — prepend p
      ("replace-prefix", old,new) — swap a literal prefix (no-op when
                                    the key doesn't start with old)
      ("shift", n)                — drop the first n characters
      ("shift-levels", n)         — drop the first n dot-levels
      ("upper",) / ("lower",)     — case-fold the key
    """
    for t in transforms:
        kind = t[0]
        if kind == "add-prefix":
            key = t[1] + key
        elif kind == "replace-prefix":
            if key.startswith(t[1]):
                key = t[2] + key[len(t[1]):]
        elif kind == "shift":
            key = key[t[1]:]
        elif kind == "shift-levels":
            # vp_trans_shift_levels: erase up to and incl. the n-th dot
            parts = key.split(".")
            if len(parts) > t[1]:
                key = ".".join(parts[t[1]:])
        elif kind == "upper":
            key = key.upper()
        elif kind == "lower":
            key = key.lower()
        else:
            raise ValueError(f"unknown value-pairs transform {kind!r}")
    return key


def value_pairs(
    args: Sequence[str], names: Iterable[str]
) -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    """The value-pairs selector (lib/value-pairs/value-pairs.c
    value_pairs_new_from_cmdline): parse an option list, then select
    and rekey ``names``.

      --scope/-s S[,S...]     the named column sets of VALUE_PAIRS_SCOPES
      --key/-k G[,G...]       globs to select
      --exclude/-x G[,G...]   globs to drop (exclusion wins)
      GLOB                    a bare word selects like --key
      --add-prefix P, --replace-prefix OLD=NEW, --shift N,
      --shift-levels N, --upper, --lower
                              the rekey chain (apply_key_transforms)
      --omit-empty-values     accepted; NULL values drop already
      k=v                     an explicit pair, returned unparsed

    The list options repeat. Globs match case-insensitively, so scope
    column names also select macro names (HOST, PROGRAM). Returns
    ``(selected, pairs)``: ``selected`` holds ``(new_key, name)`` in
    the order of ``names``; ``pairs`` the ``(k, v)`` words in argument
    order. An unknown scope raises ValueError."""
    globs: list[str] = []
    excludes: list[str] = []
    chain: list[tuple] = []
    pairs: list[tuple[str, str]] = []
    it = iter(args)

    def operand() -> str:
        value = next(it, None)
        if value is None:
            raise ValueError(f"value-pairs option {arg} needs a value")
        return value

    for arg in it:
        if arg in ("--scope", "-s"):
            for scope in operand().split(","):
                if scope not in VALUE_PAIRS_SCOPES:
                    raise ValueError(
                        f"unknown value-pairs scope {scope!r}; known: "
                        + ", ".join(VALUE_PAIRS_SCOPES)
                    )
                globs += VALUE_PAIRS_SCOPES[scope]
        elif arg in ("--key", "-k"):
            globs += operand().split(",")
        elif arg in ("--exclude", "-x"):
            excludes += operand().split(",")
        elif arg == "--add-prefix":
            chain.append(("add-prefix", operand()))
        elif arg == "--replace-prefix":
            old, _, new = operand().partition("=")
            chain.append(("replace-prefix", old, new))
        elif arg in ("--shift", "--shift-levels"):
            chain.append((arg[2:], int(operand())))
        elif arg in ("--upper", "--lower"):
            chain.append((arg[2:],))
        elif arg == "--omit-empty-values":
            pass
        elif "=" in arg and not arg.startswith("--"):
            k, _, v = arg.partition("=")
            pairs.append((k, v))
        else:
            globs.append(arg)
    globs = [g.lower() for g in globs]
    excludes = [g.lower() for g in excludes]
    selected = [
        (apply_key_transforms(n, chain), n)
        for n in names
        if any(fnmatch.fnmatchcase(n.lower(), g) for g in globs)
        and not any(fnmatch.fnmatchcase(n.lower(), g) for g in excludes)
    ]
    return selected, pairs


def value_pairs_select(
    df: DataFrame,
    include_globs: list[str] | None = None,
    exclude_globs: list[str] | None = None,
    scope: str | None = None,
    transforms: list[tuple] | None = None,
) -> DataFrame:
    """value-pairs projection: the columns value_pairs selects by glob
    and/or scope, renamed by the rekey ``transforms``. Static columns
    rekey at PLAN time; see value_pairs_rekey_map for dynamic
    map-column keys."""
    args = list(include_globs or [])
    if scope:
        args += ["--scope", scope]
    for g in exclude_globs or []:
        args += ["--exclude", g]
    selected, _ = value_pairs(args, df.columns)
    return df.select(
        *[
            F.col(n).alias(apply_key_transforms(k, transforms or []))
            for k, n in selected
        ]
    )


def value_pairs_rekey_map(
    map_col: Column, transforms: list[tuple]
) -> Column:
    """The same transform chain over a dynamic map<string,string>
    column's keys (open-schema NV pairs), as transform_keys column
    algebra — the runtime twin of apply_key_transforms."""
    def rekey(k: Column) -> Column:
        for t in transforms:
            kind = t[0]
            if kind == "add-prefix":
                k = F.concat(F.lit(t[1]), k)
            elif kind == "replace-prefix":
                old, new = t[1], t[2]
                k = F.when(
                    k.startswith(old),
                    F.concat(F.lit(new), F.substring(k, len(old) + 1, 2_000_000_000)),
                ).otherwise(k)
            elif kind == "shift":
                k = F.substring(k, t[1] + 1, 2_000_000_000)
            elif kind == "shift-levels":
                n = t[1]
                parts = F.split(k, r"\.")
                k = F.when(
                    F.size(parts) > n,
                    F.array_join(F.slice(parts, n + 1, 1_000_000), "."),
                ).otherwise(k)
            elif kind == "upper":
                k = F.upper(k)
            elif kind == "lower":
                k = F.lower(k)
            else:
                raise ValueError(f"unknown value-pairs transform {kind!r}")
        return k

    return F.transform_keys(map_col, lambda k, _v: rekey(k))
