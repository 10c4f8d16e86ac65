"""Generic JSON flatten: arbitrary JSON -> dotted-key NV map.

Reference: modules/json/json-parser.c:1-421 —
  - nested objects recurse with ``prefix + key + key_delimiter``
  - arrays whose elements are ALL strings become a comma-joined list
    value; any other array is stored as its raw JSON text (LM_VT_JSON)
  - scalars store their token text (true/false, decimal ints, strings)
  - ``prefix()`` namespaces every key; ``extract-prefix()`` descends
    into a subobject first; ``marker()`` requires (and strips) a
    leading marker like '@cee:'

Spark-first: recursion becomes ``max_depth`` bounded rounds of pure
column algebra — from_json to ``map<string,string>`` (Spark returns
nested objects as their raw JSON text), one flatten round per depth
level, nested in one expression (each round reads the one before it
once, so the tree stays linear in depth). No Python per row; a
vectorized UDF is NOT needed because real-world nesting depth is
small and the bound is explicit (deeper objects stay raw JSON text).

Deviation noted: the reference renders doubles via printf %f (3.14 ->
"3.140000"); we keep the raw JSON token ("3.14"), which is lossless.
Array elements containing commas are str_repr-quoted by the
reference; we join raw (flag day documented here).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from axosyslog_spark.operators.kvscan import entries_to_map

_MAP_SS = "map<string,string>"
# a JSON array whose elements are all strings (spaces between tokens ok)
_ALL_STRING_ARRAY_RE = r'^\[\s*(?:"(?:\\.|[^"\\])*"\s*(?:,\s*"(?:\\.|[^"\\])*"\s*)*)?\]$'


def _flatten_round(entries: Column, key_delimiter: str) -> Column:
    """One nesting level: every entry whose value is a JSON object
    becomes that object's entries, keyed ``key + delimiter + child``."""

    def expand(e: Column) -> Column:
        child = F.from_json(e["value"], _MAP_SS)
        return F.when(
            e["value"].startswith("{") & child.isNotNull(),
            F.transform(
                F.map_entries(child),
                lambda c: F.struct(
                    F.concat(e["key"], F.lit(key_delimiter), c["key"]).alias("key"),
                    c["value"].alias("value"),
                ),
            ),
        ).otherwise(F.array(e))

    return F.flatten(F.transform(entries, expand))


def _finalize_array(e: Column) -> Column:
    """json-parser.c extract_values_from_complex: an all-string array
    becomes a comma list; any other array stays raw JSON."""
    v = e["value"]
    value = F.when(
        v.rlike(_ALL_STRING_ARRAY_RE),
        F.array_join(F.from_json(v, "array<string>"), ","),
    ).otherwise(v)
    return F.struct(e["key"].alias("key"), value.alias("value"))


def flatten_json_column(
    src: Column, key_delimiter: str = ".", max_depth: int = 8
) -> Column:
    """Dotted-key flatten of a JSON-object string: map<string,string>,
    or NULL when the input isn't a JSON object. A repeated key keeps
    its last value (kvscan.entries_to_map)."""
    top = F.from_json(src.cast("string"), _MAP_SS)
    entries = F.map_entries(top)
    for _ in range(max_depth):
        entries = _flatten_round(entries, key_delimiter)
    entries = F.transform(entries, _finalize_array)
    return F.when(top.isNotNull(), entries_to_map(entries))


def json_flatten(
    df: DataFrame,
    src_col: str = "text",
    out_col: str = "jsonf",
    prefix: str = "",
    key_delimiter: str = ".",
    max_depth: int = 8,
    extract_prefix: str | None = None,
    marker: str | None = None,
) -> DataFrame:
    """json-parser(): adds ``out_col``, the flatten_json_column map with
    ``prefix`` on every key (NULL when the input isn't a JSON object or
    the marker doesn't match), and ``<out_col>_ok`` (parse success ->
    drop-invalid composes as a filter on it)."""
    src = F.col(src_col)
    if marker:
        src = F.when(src.startswith(marker), F.substring(src, len(marker) + 1, 2_000_000_000))
    if extract_prefix:
        src = F.get_json_object(src, f"$.{extract_prefix}")
    flat = flatten_json_column(src, key_delimiter, max_depth)
    if prefix:
        flat = F.transform_keys(flat, lambda k, _v: F.concat(F.lit(prefix), k))
    return df.withColumn(out_col, flat).withColumn(
        f"{out_col}_ok", F.col(out_col).isNotNull()
    )
