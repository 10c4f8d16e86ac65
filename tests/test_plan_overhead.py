"""Plan-building overhead contracts: constant tables cross to the JVM
in O(1) py4j calls, the tool registry is a JVM-local relation, and the
bounded sink aggregates sort without a range exchange."""

from __future__ import annotations

import py4j.clientserver
import py4j.protocol
import pytest
from pyspark.sql import functions as F

from axosyslog_spark.operators.enrich import TOOL_DEFAULT, enrich_tools, tool_lookup_rows
from axosyslog_spark.operators.metrics import sink_counts, sink_histogram
from axosyslog_spark.operators.patterndb import PatternDB, PdbRule

# every awkward character class a SQL literal has to survive
AWKWARD = ["it's", "back\\slash", "\\'", "$1 and $", "ünïcødé ☃ 日本 😀", ""]


def _rules(prefixed: bool) -> list[PdbRule]:
    """One rule per AWKWARD id; distinct literal prefixes build a
    many-leaf dispatch tree, a shared empty prefix a single root leaf."""
    return [
        PdbRule(
            rid,
            f"m{i} n=@NUMBER:n@" if prefixed else f"@NUMBER:n@ m{i}",
            rule_class=AWKWARD[-1 - i],
            tags=(rid, "t'ag") if rid else (),
        )
        for i, rid in enumerate(AWKWARD)
    ]


@pytest.mark.parametrize("prefixed", [True, False], ids=["tree", "flat"])
def test_awkward_literals_round_trip_through_apply(spark, prefixed):
    rules = _rules(prefixed)
    pdb = PatternDB(rules + [PdbRule("no_class", "zz @NUMBER:n@")])
    assert (len(pdb.leaves) > 1) == prefixed
    lines = [
        f"m{i} n={i}" if prefixed else f"{i} m{i}" for i in range(len(rules))
    ] + ["zz 9", "unmatched"]
    df = spark.createDataFrame(list(enumerate(lines)), "id int, text string")
    out = {
        r["id"]: r
        for r in pdb.apply(df, with_class=True, with_tags=True).collect()
    }
    for i, rule in enumerate(rules):
        assert out[i]["rule_id"] == rule.rule_id
        assert out[i]["n"] == i
        # an empty class reads back NULL, as it always has
        assert out[i]["rule_class"] == (rule.rule_class or None)
        assert out[i]["pdb_tags"] == (list(rule.tags) or None)
    assert out[len(rules)]["rule_id"] == "no_class"
    assert out[len(rules)]["rule_class"] is None
    assert out[len(rules) + 1]["rule_id"] is None
    assert out[len(rules) + 1]["pdb_tags"] is None


def _py4j_calls(build) -> int:
    """py4j round trips made while ``build()`` runs. Memory commands
    are not counted: py4j's finalizer thread sends them for Python
    proxies garbage-collected at any time, whoever created them."""
    calls = 0
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        nonlocal calls
        calls += not command.startswith(py4j.protocol.MEMORY_COMMAND_NAME)
        return send(self, command)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
        build()
    return calls


def test_literal_tables_cost_constant_py4j_calls(spark):
    pdb = PatternDB(_rules(True))
    idx, res = F.col("idx"), F.col("res")

    def lut(n):
        return _py4j_calls(
            lambda: PatternDB._lut([f"r'{i}" for i in range(n)], idx, "string")
        )

    def leaf(n):
        return _py4j_calls(
            lambda: pdb._leaf_lookup(res, [[i, i + n] for i in range(n)])
        )

    assert lut(10) == lut(1000)
    assert leaf(10) == leaf(1000)
    # and the 1000-entry tables still evaluate to the right cells
    row = spark.range(1).select(
        PatternDB._lut([f"r'{i}" for i in range(1000)], F.lit(998), "string"),
        pdb._leaf_lookup(
            F.lit("\x03" + chr(0x10 + 500) + "\x01\x02"),
            [[i, i + 1000] for i in range(1000)],
        ),
    ).first()
    assert tuple(row) == ("r'998", 1500)


def test_tool_lookup_is_jvm_local_with_defaults(spark):
    facts = spark.sql(
        "SELECT * FROM VALUES (0, 'tool_03'), (1, ''), (2, 'tool_unknown_7'), "
        "(3, NULL) AS t(id, tool)"
    )
    out = enrich_tools(facts, spark)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan
    got = {
        r["id"]: (r["tool_category"], r["risk_level"], r["owner"])
        for r in out.collect()
    }
    _, cat, risk, owner = tool_lookup_rows()[3]
    default = (
        TOOL_DEFAULT["tool_category"], TOOL_DEFAULT["risk_level"], TOOL_DEFAULT["owner"]
    )
    assert got == {0: (cat, risk, owner), 1: default, 2: default, 3: default}


def _routed(spark):
    rows = ", ".join(
        f"('sink_{s}', {sev}, {cat})"
        for s in ("b", "a", "c")
        for sev in (5, 1, 3)
        for cat in ("'shell'", "NULL", "'codegen'")
        for _ in range(2)
    )
    return spark.sql(
        f"SELECT * FROM VALUES {rows} AS t(sink, severity, tool_category)"
    ).repartition(4)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "agg, keys",
    [(sink_counts, ("sink",)), (sink_histogram, ("sink", "severity", "tool_category"))],
    ids=["counts", "histogram"],
)
def test_sink_aggregates_sort_without_range_exchange(spark, agg, keys):
    out = agg(_routed(spark))
    assert "rangepartitioning" not in _executed_plan(out).lower()
    rows = [tuple(r) for r in out.collect()]
    # executed (AQE final) plan: still no range exchange
    assert "rangepartitioning" not in _executed_plan(out).lower()

    def key(r):  # ascending, NULLs first — orderBy's default
        return tuple((v is not None, v) for v in r[: len(keys)])

    assert rows == sorted(rows, key=key)
    want = _routed(spark).groupBy(*keys).count().orderBy(*keys).collect()
    assert rows == [tuple(r) for r in want]
