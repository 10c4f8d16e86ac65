"""Enrichment: broadcast lookup join with default-record fallback.

Reference: add-contextual-data() — selector template resolves a key
into a CSV-loaded database; on miss, the default-selector record is
injected instead (modules/add-contextual-data/add-contextual-data.c:111-137,
context-info-db.c). geoip2() is the same shape with an interval key
(modules/geoip2/geoip-parser.c).

Spark mapping: the database is a small dimension — ``broadcast()`` +
LEFT join (no shuffle of the fact side), then ``coalesce`` each
enriched column to the default record's value. At 100 TB fact scale
this stays a broadcast-hash-join: the dimension is bounded (tool
registry), never the fact table.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from axosyslog_spark.functions.literals import per_jvm, with_columns


@dataclass(frozen=True)
class LookupSpec:
    """A contextual-data database: key column + enrichment columns,
    plus the loader that builds the database against a session."""

    key: str                       # join key on the fact side
    db_key: str                    # key column in the database
    columns: tuple[str, ...]       # enrichment columns to inject
    default: dict[str, str] = field(default_factory=dict)  # default record
    prefix: str = ""               # namespace prefix for injected cols
    db: Callable[[SparkSession], DataFrame] | None = None  # the database


# The tool registry fixture (FIXTURES.md F2). One canonical Python
# definition shared by the Spark dimension and the DuckDB oracle SQL.
TOOL_CATEGORIES = ("retrieval", "codegen", "shell", "analysis")
TOOL_RISKS = ("low", "medium", "high")


def tool_lookup_rows() -> list[tuple[str, str, str, str]]:
    """(tool, tool_category, risk_level, owner) — deterministic."""
    return [
        (
            f"tool_{i:02d}",
            TOOL_CATEGORIES[i % 4],
            TOOL_RISKS[i % 3],
            f"team-{i % 5}",
        )
        for i in range(16)
    ]


TOOL_DEFAULT = {"tool_category": "unknown", "risk_level": "medium", "owner": "team-default"}


@per_jvm
def tool_lookup_df(spark: SparkSession) -> DataFrame:
    """The registry as a SQL VALUES relation — the same clause the
    DuckDB oracle reads. Spark plans it as a JVM-local LocalRelation,
    so the broadcast build side runs no Python worker.
    spark.createDataFrame(list) built a pickled Python RDD instead,
    broadcast through Python-worker tasks on every action (a
    route_fanout pass started 5 Python workers; with this and the
    single-partition sorts of operators/metrics it runs 7 Spark jobs
    instead of 9, none with Python tasks).
    Inlining the registry as a CASE chain or a create_map literal
    instead of joining measured 3.5x slower: CollapseProject copies
    it into every route predicate and the generated method falls back
    to interpreted code; the join keeps a codegen boundary there.
    One relation per session: every plan of that session reuses it."""
    return spark.sql(f"SELECT * FROM {tool_lookup_values_sql()}")


def tool_lookup_values_sql(alias: str = "tl") -> str:
    """VALUES clause of the registry, valid in Spark SQL and DuckDB
    (tool_lookup_df and the oracle both read it)."""
    rows = ", ".join(
        f"('{t}', '{c}', '{r}', '{o}')" for t, c, r, o in tool_lookup_rows()
    )
    return f"(VALUES {rows}) AS {alias}(tool, tool_category, risk_level, owner)"


def enrich(df: DataFrame, db: DataFrame, spec: LookupSpec) -> DataFrame:
    """Generic add-contextual-data: broadcast left join + default fallback."""
    dim, cond, defaults = _enrich_plan(db, spec)
    return with_columns(df.join(dim, cond, "left"), defaults, (f"__db_{spec.db_key}",))


@per_jvm
def _enrich_plan(db: DataFrame, spec: LookupSpec) -> tuple[DataFrame, Column, dict[str, Column]]:
    """enrich's broadcast dimension, join condition and default
    fallbacks, built once per JVM, database frame and spec. The
    condition compares the columns by name: ``df[key]`` would carry
    one frame's plan id and could not be reused on the next frame."""
    dim_key = f"__db_{spec.db_key}"
    sel = [F.col(spec.db_key).alias(dim_key)] + [
        F.col(c).alias(spec.prefix + c) for c in spec.columns
    ]
    defaults = {
        spec.prefix + c: F.coalesce(F.col(spec.prefix + c), F.lit(spec.default[c]))
        for c in spec.columns
        if c in spec.default
    }
    return F.broadcast(db.select(*sel)), F.col(spec.key) == F.col(dim_key), defaults


def load_context_db(spark: SparkSession, path: str) -> DataFrame:
    """Load an add-contextual-data CSV database.

    The reference's format (modules/add-contextual-data/
    context-info-db.c) is long-form rows `selector,name,value` — many
    NV pairs per selector. Pivoted here to (selector, nv: map) so one
    broadcast join injects the whole record.
    """
    from axosyslog_spark.operators.kvscan import entries_to_map

    raw = spark.read.csv(path, schema="selector string, name string, value string")
    # dup-safe fold: a name repeated under one selector overwrites
    # (context-info-db.c's NV insert), it must not abort the job
    return raw.groupBy("selector").agg(
        entries_to_map(
            F.collect_list(
                F.struct(F.col("name").alias("key"), F.col("value").alias("value"))
            )
        ).alias("nv")
    )


def enrich_with_context_db(
    df: DataFrame,
    db: DataFrame,
    selector: str,
    default_selector: str | None = None,
    prefix: str = "",
    out_col: str = "ctx",
) -> DataFrame:
    """add-contextual-data(): broadcast join on the selector template;
    rows whose selector misses get the default-selector record
    (add-contextual-data.c:111-137); injected pairs live under
    ``out_col`` with optional key prefix."""
    dim = db.select(F.col("selector").alias("__sel"), F.col("nv").alias("__nv"))
    out = df.join(F.broadcast(dim), df[selector] == dim["__sel"], "left")
    empty_map = F.expr("map()").cast("map<string,string>")
    if default_selector is not None:
        # the db is small by contract — resolve the default record at
        # plan time and inline it as a map literal (no extra join)
        rows = db.filter(F.col("selector") == default_selector).collect()
        dflt = rows[0]["nv"] if rows else {}
        dflt_lit = (
            F.map_from_entries(
                F.array(*[
                    F.struct(F.lit(k).alias("key"), F.lit(v).alias("value"))
                    for k, v in sorted(dflt.items())
                ])
            )
            if dflt
            else empty_map
        )
        nv = F.coalesce(F.col("__nv"), dflt_lit)
    else:
        nv = F.coalesce(F.col("__nv"), empty_map)
    if prefix:
        nv = F.transform_keys(nv, lambda k, _v: F.concat(F.lit(prefix), k))
    return out.withColumn(out_col, nv).drop("__sel", "__nv")


def glob_selector(
    value: "F.Column", globs: list[str]
) -> "F.Column":
    """add-contextual-data glob selector (glob-selector.c +
    test_glob_selector.c): resolve the expanded template to the FIRST
    db selector GLOB that matches it (declaration order), NULL when
    none does. The db's selector list is bounded (it was loaded from
    the context CSV), so the chain is a plan-time when-cascade inside
    one codegen span."""
    from axosyslog_spark.operators.filters import glob_match

    sel = F.lit(None).cast("string")
    for g in reversed(globs):
        sel = F.when(glob_match(value, g), F.lit(g)).otherwise(sel)
    return sel


def filter_selector(
    filters: list[tuple[str, "F.Column"]]
) -> "F.Column":
    """add-contextual-data filter selector (filter-selector.c): the db
    selectors NAME filters from a config file; a row resolves to the
    first filter (declaration order) whose condition holds, NULL when
    none does. ``filters`` = ordered (name, condition Column) pairs —
    the Column is whatever the config front-end compiled for that
    filter (plans/config.py)."""
    sel = F.lit(None).cast("string")
    for name, cond in reversed(filters):
        sel = F.when(cond, F.lit(name)).otherwise(sel)
    return sel


def enrich_with_context_db_filters(
    df: DataFrame,
    db: DataFrame,
    filters: list[tuple[str, "F.Column"]],
    prefix: str = "",
    out_col: str = "ctx",
) -> DataFrame:
    """add-contextual-data(filters(...)): resolve by the named-filter
    cascade, then the usual broadcast record injection."""
    resolved = df.withColumn("__filter_sel", filter_selector(filters))
    out = enrich_with_context_db(
        resolved, db, "__filter_sel", prefix=prefix, out_col=out_col
    )
    return out.drop("__filter_sel")


def enrich_with_context_db_glob(
    df: DataFrame,
    db: DataFrame,
    template_col: str,
    prefix: str = "",
    out_col: str = "ctx",
) -> DataFrame:
    """add-contextual-data(glob(...)): the db's selectors are glob
    patterns; each row resolves to the first matching one, then the
    usual broadcast join injects that record. Selector list collected
    ONCE at plan time (the reference loads the same CSV into memory)."""
    globs = [r["selector"] for r in db.select("selector").collect()]
    resolved = df.withColumn(
        "__glob_sel", glob_selector(F.col(template_col), globs)
    )
    out = enrich_with_context_db(
        resolved, db, "__glob_sel", prefix=prefix, out_col=out_col
    )
    return out.drop("__glob_sel")


TOOL_LOOKUP = LookupSpec(
    key="tool",
    db_key="tool",
    columns=("tool_category", "risk_level", "owner"),
    default=TOOL_DEFAULT,
    db=tool_lookup_df,
)


def enrich_tools(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Flagship enrichment: tool registry join with default record."""
    return enrich(df, tool_lookup_df(spark), TOOL_LOOKUP)


def geoip2(
    df: DataFrame,
    spark: SparkSession,
    mmdb_path: str,
    ip_col: str = "ip",
    fields: list[str] | None = None,
    prefix: str = "geoip2.",
) -> DataFrame:
    """geoip2(ip-field, database, prefix) — the full reference shape
    (modules/geoip2/geoip-parser.c): parse the .mmdb ONCE on the
    driver at plan time (operators/mmdb.py, the maxminddb-helper.c
    analog), then broadcast-range-join the interval dimension against
    the fact table. Executors never open the file; no shuffle.

    fields: dotted data-map paths (default country/city name, see
    load_mmdb_intervals); each becomes a ``{prefix}{path}`` column
    with '.'->'_' like value-pairs flattening."""
    from axosyslog_spark.operators.filters import ip_to_long
    from axosyslog_spark.operators.mmdb import load_mmdb_intervals

    names = [f.replace(".", "_") for f in fields] if fields else ["name"]
    out_cols = [f"{prefix}{n}" for n in names]
    schema = "lo bigint, hi bigint, " + ", ".join(f"`{c}` string" for c in out_cols)
    rows = [
        (lo, hi, *[None if v is None else str(v) for v in rest])
        for lo, hi, *rest in load_mmdb_intervals(mmdb_path, fields=fields)
    ]
    dim = spark.createDataFrame(rows, schema)
    ip_num = ip_to_long(F.col(ip_col))
    return df.join(
        F.broadcast(dim),
        (ip_num >= F.col("lo")) & (ip_num <= F.col("hi")),
        "left",
    ).drop("lo", "hi")
