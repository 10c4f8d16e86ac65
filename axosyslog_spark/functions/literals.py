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
"""

from __future__ import annotations

from pyspark.sql import Column
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
