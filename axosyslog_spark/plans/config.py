"""Declarative pipeline config: a JSON document -> PipelineSpec.

The syslog-ng.conf analog (lib/cfg-tree.c compiles text config into
the pipe graph; we compile a JSON document into DataFrame plans).
Everything a config can express is plan-time: PatternDB rulesets load
from pdb XML, route conditions and derived columns are template
strings, per-message logic is a filterx block — no Python executes
per row.

Document shape (all sections optional except routes):

    {
      "patterns":  {"xml": "/path/ruleset.pdb"}
                 | {"xml_fixture": "transcripts.pdb"}
                 | {"rules": [{"id": "r1", "pattern": "v=@NUMBER:v@",
                               "class": "system"}]},
      "pattern_source": "body",
      "lookups": [
        {"key": "tool", "db_key": "tool",
         "columns": ["tool_category", "risk_level"],
         "default": {"tool_category": "unknown"},
         "csv": "/path/dim.csv"            # or "rows": [{...}, ...]
        }
      ],
      "templates": {"host_app": "${HOST}/$(lowercase ${PROGRAM:-na})"},
      "filterx": "$latency = int($latency_ms) ?? 0; ...",
      "routes": [
        {"sink": "sink_errors", "condition": "(\\"${status}\\" == \\"error\\")"},
        {"sink": "sink_hi", "condition": "...", "final": true},
        {"sink": "sink_default", "fallback": true}
      ],
      "aggregates": [{"labels": ["sink", "severity"], "counter": "n"}],
      "header_parse": true
    }
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from axosyslog_spark.operators.enrich import LookupSpec
from axosyslog_spark.operators.route import RouteBranch, RouteSpec
from axosyslog_spark.plans.spec import AggSpec, CompiledPipeline, PipelineSpec


class ConfigError(ValueError):
    pass


def _load_doc(source) -> dict:
    if isinstance(source, dict):
        return source
    if isinstance(source, str) and source.lstrip().startswith("{"):
        return json.loads(source)
    if isinstance(source, str) and os.path.exists(source):
        with open(source) as f:
            return json.load(f)
    raise ConfigError(f"config source not found / not JSON: {source!r}")


def _patterns(section: dict) -> list:
    from axosyslog_spark.operators.patterndb import PdbRule
    from axosyslog_spark.operators.pdb_load import load_fixture, load_pdb_xml

    if "xml" in section:
        rulesets = load_pdb_xml(section["xml"] if section["xml"].lstrip().startswith("<")
                                else open(section["xml"]).read())
    elif "xml_fixture" in section:
        rulesets = load_fixture(section["xml_fixture"])
    elif "rules" in section:
        return [
            PdbRule(
                rule_id=r["id"],
                pattern=tuple(r["patterns"]) if "patterns" in r else r["pattern"],
                rule_class=r.get("class", ""),
                tags=tuple(r.get("tags", ())),
                values=tuple((k, v) for k, v in r.get("values", {}).items()),
            )
            for r in section["rules"]
        ]
    else:
        raise ConfigError("patterns section needs xml / xml_fixture / rules")
    return [r for rs in rulesets for r in rs.rules]


def _lookup_db(lk: dict):
    """The lookup's database loader: a headered csv file or inline rows."""
    if "csv" in lk:
        path = lk["csv"]
        return lambda spark: spark.read.csv(path, header=True, inferSchema=False)
    if "rows" in lk:
        rows = lk["rows"]
        return lambda spark: spark.createDataFrame(rows)
    raise ConfigError(f"lookup {lk['key']!r} needs csv or rows")


def build_spec(source) -> PipelineSpec:
    """Config document -> PipelineSpec (lookup loaders included)."""
    doc = _load_doc(source)
    if "routes" not in doc or not doc["routes"]:
        raise ConfigError("config needs a non-empty routes section")
    branches = tuple(
        RouteBranch(
            sink=r["sink"],
            predicate=r.get("condition"),
            final=bool(r.get("final", False)),
            fallback=bool(r.get("fallback", False)),
        )
        for r in doc["routes"]
    )
    lookups = [
        LookupSpec(
            key=lk["key"],
            db_key=lk["db_key"],
            columns=tuple(lk["columns"]),
            default=dict(lk.get("default", {})),
            prefix=lk.get("prefix", ""),
            db=_lookup_db(lk),
        )
        for lk in doc.get("lookups", [])
    ]
    return PipelineSpec(
        routes=RouteSpec(branches=branches),
        patterns=_patterns(doc["patterns"]) if "patterns" in doc else [],
        pattern_source_col=doc.get("pattern_source", "body"),
        lookups=lookups,
        aggregates=[
            AggSpec(labels=list(a["labels"]), counter_name=a.get("counter", "n"))
            for a in doc.get("aggregates", [])
        ],
        header_parse=bool(doc.get("header_parse", True)),
        templates=dict(doc.get("templates", {})),
        filterx_block=doc.get("filterx"),
    )


def compile_config(
    spark: SparkSession, transcripts: DataFrame, source
) -> CompiledPipeline:
    """One-shot: config document + input frame -> compiled pipeline."""
    return build_spec(source).compile(spark, transcripts)
