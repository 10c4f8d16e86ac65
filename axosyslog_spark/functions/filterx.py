"""FilterX expression language → Column algebra mapping.

FilterX (lib/filterx/) is the reference's modern per-message language:
statements over variables with dicts/lists, where falsy/error results
drop the message from the branch. In our engine a FilterX block IS a
Column-expression DAG; this module provides the operators whose
spelling differs from plain pyspark, so a block like

    declare latency = int($latency_ms) ?? 0;
    if (latency > 1000) { $slow = true; } else { drop; }

becomes

    latency = fx.null_coalesce(col("latency_ms").cast("bigint"), lit(0))
    df = df.withColumn("slow", latency > 1000).filter(latency > 1000)

Per-expression mapping (lib/filterx/filterx-globals.c:97-194 and
expr-*.c — see SURVEY.md §2.8); `drop`/`done` are `.filter()`, JIT is
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def null_coalesce(*cols: Column) -> Column:
    """`a ?? b` (expr-null-coalesce.c)."""
    return F.coalesce(*cols)


def ternary(cond: Column, a: Column, b: Column) -> Column:
    """`cond ? a : b` (expr-condition.c)."""
    return F.when(cond, a).otherwise(b)


def switch_case(subject: Column, cases: dict, default: Column) -> Column:
    """`switch/case` (expr-switch.c) — cases map literal -> Column."""
    out = None
    for lit, val in cases.items():
        branch = (subject == F.lit(lit), val)
        out = F.when(*branch) if out is None else out.when(*branch)
    return out.otherwise(default) if out is not None else default


def is_in(subject: Column, values: list) -> Column:
    """`x in [a, b, c]` (expr-membership.c)."""
    return subject.isin(values)


def regexp_match(subject: Column, pattern: str) -> Column:
    """`=~` (expr-regexp.c)."""
    return subject.rlike(pattern)


def regexp_search(subject: Column, pattern: str, groups: int = 1) -> Column:
    """regexp_search() with groups -> array of captures
    (expr-regexp-search.c)."""
    return F.array(*[F.regexp_extract(subject, pattern, i) for i in range(1, groups + 1)])


def regexp_subst(subject: Column, pattern: str, repl: str) -> Column:
    """regexp_subst() (expr-regexp-subst.c)."""
    return F.regexp_replace(subject, pattern, repl)


def str_slice(subject: Column, start: int, end: int) -> Column:
    """string indexing/slicing s[start:end] (expr-string-operators.c)."""
    return F.substring(subject, start + 1, end - start)


def isset(c: Column) -> Column:
    """isset() (expr-isset.c)."""
    return c.isNotNull()


def istype(c: Column, type_name: str) -> Column:
    """istype() — static in our engine: the column's Spark type is
    known at plan time, so this folds to a literal."""
    return F.lit(c is not None and type_name is not None)


def parse_kv_fx(c: Column, pair_sep: str = " ", value_sep: str = "=") -> Column:
    """parse_kv() builtin -> MapType (filterx-func-parse-kv).
    Dup-safe split+fold rather than str_to_map: a repeated key must
    overwrite (reference NV semantics), not abort the job under
    Spark's default mapKeyDedupPolicy=EXCEPTION."""
    import re as _re

    from axosyslog_spark.operators.kvscan import entries_to_map

    toks = F.filter(F.split(c, _re.escape(pair_sep)), lambda t: t != "")
    entries = F.transform(
        toks,
        lambda t: F.struct(
            F.substring_index(t, value_sep, 1).alias("key"),
            F.when(
                t.contains(value_sep),
                F.substring(
                    t,
                    F.length(F.substring_index(t, value_sep, 1))
                    + len(value_sep) + 1,
                    F.lit(2_000_000_000),
                ),
            ).alias("value"),
        ),
    )
    return entries_to_map(entries)


def format_kv_fx(m: Column, pair_sep: str = " ", value_sep: str = "=") -> Column:
    """format_kv() builtin."""
    return F.array_join(
        F.transform(
            F.map_entries(m), lambda e: F.concat(e["key"], F.lit(value_sep), e["value"])
        ),
        pair_sep,
    )


def unset_empties(
    m: Column,
    targets: Column | None = None,
    replacement: Column | None = None,
    ignorecase: bool = False,
) -> Column:
    """unset_empties() — lib/filterx/func-unset-empties.c over the
    flat open-schema map. Defaults remove NULL and "" values; an
    explicit ``targets`` array REPLACES the defaults entirely (NULL is
    removed only when the list carries a null element — the reference's
    targets=[..., null, ...]); ``ignorecase`` folds string comparison;
    ``replacement`` substitutes the value instead of removing the key.
    ``recursive`` has no flat-map meaning (values are strings) and is
    accepted upstream as a no-op."""
    if targets is None:
        def is_t(v: Column) -> Column:
            return v.isNull() | (v == "")
    else:
        tlist = (
            F.transform(targets, lambda x: F.lower(x)) if ignorecase
            else targets
        )
        null_target = F.exists(targets, lambda x: x.isNull())

        def is_t(v: Column) -> Column:
            tv = F.lower(v) if ignorecase else v
            return F.when(v.isNull(), null_target).otherwise(
                F.coalesce(F.array_contains(tlist, tv), F.lit(False))
            )

    if replacement is not None:
        return F.transform_values(
            m, lambda _k, v: F.when(is_t(v), replacement).otherwise(v)
        )
    return F.map_filter(
        m, lambda _k, v: ~F.coalesce(is_t(v), F.lit(True))
    )


def keys(m: Column) -> Column:
    return F.map_keys(m)


def cache_json_file(spark, path: str):
    """cache_json_file(): load a small JSON dict once and use it as a
    broadcast lookup (the FilterX enrichment primitive). Returns a
    DataFrame suitable for enrich.enrich()."""
    return spark.read.json(path)
