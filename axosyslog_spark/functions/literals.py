"""Compile-time constant tables as ONE Spark SQL literal expression.

PySpark builds ``F.lit(list)`` and ``F.array(*[F.lit(x) ...])`` as one
py4j round trip per element (plus the call-site capture of every
wrapped ``F.*`` call), so a per-rule metadata table costs O(rules)
Python↔JVM calls on every plan build. Rendering the whole table as SQL
text and parsing it with one ``F.expr`` costs O(1) calls; the result is
the same all-literal ``CreateArray`` under one cast, which Catalyst's
ConstantFolding still folds to a single plan-time ``Literal``.

String escaping follows Spark's default literal grammar
(``spark.sql.parser.escapedStringLiterals=false``): backslash escapes
are processed, so ``\\`` and ``'`` are backslash-escaped and every other
character, non-ASCII included, is taken verbatim.

The same cost recurs per expression: every ``F.*`` call and Column
operator is a py4j round trip, so a plan rebuilt on every batch pays
for its whole expression graph each time (a route_fanout pass made
~1,900 calls before Spark ran anything). ``per_jvm``/``JvmMemo``
build an expression graph once per JVM and hand the same Column
proxies to every later plan; Columns by name (``F.col``) carry no
plan id, so one proxy is valid in any DataFrame of that JVM.

Each DataFrame operation costs more still: Spark analyzes the whole
plan again for every one. ``with_columns`` makes a
``withColumns(...).drop(...)`` pair one operation.
"""

from __future__ import annotations

import functools
import threading
import weakref

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sql_literal(value) -> str:
    """Spark SQL text for a None/int/str value or a (nested) list of
    them; lists render as ``array(...)``."""
    if value is None:
        return "NULL"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(value, (list, tuple)):
        return "array(" + ", ".join(sql_literal(v) for v in value) + ")"
    raise TypeError(f"no SQL literal for {type(value).__name__}: {value!r}")


def literal_array(values, elem_type: str) -> Column:
    """``array<elem_type>`` constant built with one JVM call, whatever
    the number of elements (see module docstring)."""
    return F.expr(f"CAST({sql_literal(list(values))} AS array<{elem_type}>)")


_BY_ID = object()
_MEMO_SIZE = 64
_MEMOS: weakref.WeakSet = weakref.WeakSet()


def _memo_key(value):
    """Plain values (str/int/bool/None and tuples of them) key by
    value; anything else (specs holding Columns, sessions, rulesets)
    by identity. The memo keeps a reference to the arguments, so an id
    stays unique while its entry lives."""
    if value is None or isinstance(value, (str, int, float)):
        return value
    if isinstance(value, tuple):
        return tuple(map(_memo_key, value))
    return (_BY_ID, id(value))


class JvmMemo:
    """Values built once per (py4j gateway, key).

    The gateway is part of the key: a relaunched JVM never receives
    proxies made for the one before it (the entries are dropped when
    it changes). Past _MEMO_SIZE entries the oldest goes, so plans
    built from a fresh spec per batch do not grow it without bound.
    Thread-safe: a streaming foreachBatch builds its plans on another
    thread."""

    def __init__(self):
        self._lock = threading.RLock()
        self._gateway = None
        self._entries: dict = {}
        _MEMOS.add(self)

    def get(self, key: tuple, build):
        """``build()``, made on the first call for ``key`` in this JVM.
        ``key`` holds the arguments ``build`` depends on (see
        _memo_key)."""
        k = tuple(map(_memo_key, key))
        with self._lock:
            gateway = SparkContext._gateway
            if gateway is not self._gateway:
                self._gateway, self._entries = gateway, {}
            hit = self._entries.get(k)
            if hit is None:
                if len(self._entries) >= _MEMO_SIZE:
                    del self._entries[next(iter(self._entries))]
                hit = self._entries[k] = (key, build())
            return hit[1]

    def clear(self) -> None:
        with self._lock:
            self._entries = {}


def clear_memos() -> None:
    """Drop every memoized plan expression; the next build of each
    plan makes its Columns again."""
    for memo in list(_MEMOS):
        memo.clear()


def per_jvm(build):
    """Decorator: memoize a function that builds Columns, per JVM and
    arguments (JvmMemo). The function must depend on its arguments
    alone; pass lists as tuples so equal ones share an entry."""
    memo = JvmMemo()

    @functools.wraps(build)
    def cached(*args):
        return memo.get(args, lambda: build(*args))

    return cached


def with_columns(
    df: DataFrame, new: dict[str, Column], drop: tuple[str, ...] = ()
) -> DataFrame:
    """``df.withColumns(new).drop(*drop)`` as ONE DataFrame operation,
    with the same columns in the same order (names match
    case-insensitively, as Spark's default resolver does).

    When every column ``new`` replaces sits at the end of what
    remains, in ``new``'s order, the select is ``* EXCEPT (...)``
    followed by ``new``: its py4j cost does not grow with the width of
    the frame. Otherwise every column is listed by name. A frame with
    two columns of one name keeps the two operations, since neither
    select can name just one of them. The select list is built once
    per JVM, input columns and ``new`` (pass a memoized dict)."""
    cols = _projection(tuple(df.columns), new, tuple(drop))
    return df.select(*cols) if cols else df.withColumns(new).drop(*drop)


def _quoted(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


@per_jvm
def _projection(
    columns: tuple[str, ...], new: dict[str, Column], drop: tuple[str, ...]
) -> list[Column] | None:
    """with_columns' select list; None for duplicate column names."""
    folded = [c.lower() for c in columns]
    if len(set(folded)) < len(folded):
        return None
    gone = {c.lower() for c in drop}
    by_name = {n.lower(): n for n in new}
    kept = [c for c in columns if c.lower() not in gone]
    replaced = [c.lower() for c in kept if c.lower() in by_name]
    if replaced == list(by_name)[: len(replaced)] and replaced == [
        c.lower() for c in kept[len(kept) - len(replaced):]
    ]:
        out = [c for c in columns if c.lower() in gone or c.lower() in by_name]
        star = (
            F.expr(f"* EXCEPT ({', '.join(map(_quoted, out))})") if out else F.col("*")
        )
        return [star] + [c.alias(n) for n, c in new.items()]
    listed = [
        new[by_name[c.lower()]].alias(by_name[c.lower()])
        if c.lower() in by_name
        else F.col(_quoted(c))
        for c in kept
    ]
    kept_names = {c.lower() for c in kept}
    return listed + [c.alias(n) for n, c in new.items() if n.lower() not in kept_names]
