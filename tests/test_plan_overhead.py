"""Plan-building overhead contracts: constant tables cross to the JVM
in O(1) py4j calls, the tool registry is a JVM-local relation, the
bounded sink aggregates sort without a range exchange, and a plan's
expressions are built once per JVM, so a later build of the same pass
makes O(1) py4j calls whatever the ruleset size."""

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


# ---------------------------------------------------------------------------
# Plan expressions are built once per JVM: a later build of the same
# plan makes O(1) py4j calls, whatever the ruleset size.


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """A small events.parquet for synthesize_transcripts."""
    d = tmp_path_factory.mktemp("events")
    spark.sql(
        "SELECT id AS event_id, id % 7 AS user_id, "
        "element_at(array('click', 'run', 'error'), CAST(id % 3 + 1 AS INT)) AS event_type, "
        "CAST(id % 11 AS DOUBLE) AS value, '{\"k\": 4}' AS props, "
        "TIMESTAMP'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts "
        "FROM range(60)"
    ).write.parquet(str(d / "events.parquet"))
    return str(d)


def _synthetic_rules(n: int) -> list[PdbRule]:
    """Distinct-prefix rules that share their field names."""
    return [
        PdbRule(
            f"syn{i:02d}",
            f"svc-{i:02d} op=@ESTRING:op: @code=@NUMBER:code@ detail=@ANYSTRING:detail@",
        )
        for i in range(n)
    ]


def _ruleset(n_rules: int) -> PatternDB:
    from axosyslog_spark.operators.pdb_load import load_fixture

    [rs] = load_fixture()
    return PatternDB(list(rs.rules) + _synthetic_rules(n_rules - len(rs.rules)))


# Second-build py4j calls at the time of writing: 167 observed, 195
# histogram, 111 parse_header + apply (each with synthesize_transcripts
# over a new frame, so none reuses a compiled flagship). What remains
# is the DataFrame methods' own argument conversion, one call per list
# element. They were 185 / 213 / 129 before the withColumns + drop
# pairs became one select each (literals.with_columns), and 237 for the
# histogram while run_pipeline also built the unread per-sink counts
# frame. A cold build makes more than five times the bound: 1,324 /
# 1,297 / 926 for 5 rules and 1,556 for 50.
SECOND_BUILD_MAX = {"observed": 180, "histogram": 205, "apply": 120}


def _pass_builds(spark, events_dir):
    from axosyslog_spark.operators.parse import parse_header
    from axosyslog_spark.plans.pipeline import run_pipeline, run_pipeline_observed
    from axosyslog_spark.sources.transcripts import synthesize_transcripts

    def observed():
        run_pipeline_observed(spark, synthesize_transcripts(spark, events_dir))

    def histogram():
        run_pipeline(spark, synthesize_transcripts(spark, events_dir)).histogram

    def apply(pdb):
        base = synthesize_transcripts(spark, events_dir)
        return lambda: pdb.apply(parse_header(base), text_col="body", with_class=True)

    return {
        "observed": [observed],
        "histogram": [histogram],
        "apply": [apply(_ruleset(5)), apply(_ruleset(50))],
    }


def test_second_build_costs_constant_py4j_calls(spark, events_dir):
    from axosyslog_spark.functions.literals import clear_memos

    for name, builds in _pass_builds(spark, events_dir).items():
        firsts, seconds = [], []
        for build in builds:
            clear_memos()
            firsts.append(_py4j_calls(build))
            seconds.append(_py4j_calls(build))
        # the same count for a 5-rule and a 50-rule ruleset
        assert len(set(seconds)) == 1, (name, seconds)
        assert seconds[0] <= SECOND_BUILD_MAX[name], (name, seconds)
        assert SECOND_BUILD_MAX[name] * 5 < min(firsts), (name, firsts)


def test_histogram_reuses_the_observed_compile(spark, events_dir):
    """run_pipeline and run_pipeline_observed over one transcripts frame
    share one compiled flagship: the histogram is a groupBy on the
    routed frame the observed write already analyzed."""
    from axosyslog_spark.plans.pipeline import run_pipeline, run_pipeline_observed
    from axosyslog_spark.sources.transcripts import synthesize_transcripts

    t = synthesize_transcripts(spark, events_dir)
    run_pipeline_observed(spark, t)
    assert _py4j_calls(lambda: run_pipeline(spark, t).histogram) <= 50
    assert run_pipeline(spark, t).routed is run_pipeline(spark, t).routed
    other = synthesize_transcripts(spark, events_dir)
    assert run_pipeline(spark, other).routed is not run_pipeline(spark, t).routed


def _text_frame(spark, tmp_path, name, lines):
    path = str(tmp_path / f"{name}.parquet")
    spark.createDataFrame(
        [(i, t, t[::-1]) for i, t in enumerate(lines)], "id int, body string, rev string"
    ).write.parquet(path)
    return spark.read.parquet(path)


def test_cached_apply_matches_a_fresh_ruleset_on_another_frame(spark, tmp_path):
    rules = _synthetic_rules(6)
    pdb = PatternDB(rules)
    first = _text_frame(spark, tmp_path, "a", ["svc-01 op=get code=1 detail=x"])
    pdb.apply(first, text_col="body", with_class=True).collect()
    lines = [f"svc-{i:02d} op=put code={i} detail=row {i}" for i in range(6)]
    second = _text_frame(spark, tmp_path, "b", lines + ["unmatched"])

    def rows(db, df, text_col):
        out = db.apply(df, text_col=text_col, with_class=True)
        return sorted(tuple(r) for r in out.collect())

    cached = rows(pdb, second, "body")
    assert cached == rows(PatternDB(rules), second, "body")
    assert sum(r[3] is not None for r in cached) == 6  # rule_id column
    # text_col is part of the cache key: the reversed column matches nothing
    by_rev = rows(pdb, second, "rev")
    assert by_rev != cached
    assert all(r[3] is None for r in by_rev)


@pytest.mark.parametrize(
    "new, drop",
    [
        ({"n": "a + 1", "m": "'x'"}, ("b",)),      # appended: * EXCEPT
        ({"c": "c * 2", "n": "1"}, ("zz",)),        # replaces the last column
        ({"A": "a * 10"}, ("c",)),                  # replaces a middle column
        ({"`d.e`": "'y'", "B": "b"}, ()),           # dotted name, case-folded
    ],
    ids=["append", "replace-tail", "replace-middle", "dotted"],
)
def test_with_columns_matches_with_columns_then_drop(spark, tmp_path, new, drop):
    """literals.with_columns gives withColumns(new).drop(*drop)'s
    columns, in order, and its rows, in one select."""
    from axosyslog_spark.functions.literals import with_columns

    path = str(tmp_path / "t.parquet")
    spark.sql("SELECT id AS a, id % 3 AS b, 'v' AS `d.e`, id AS c FROM range(5)").write.parquet(path)
    df = spark.read.parquet(path)
    cols = {k.strip("`"): F.expr(v) for k, v in new.items()}
    want = df.withColumns(cols).drop(*drop)
    got = with_columns(df, cols, drop)
    assert got.columns == want.columns
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
