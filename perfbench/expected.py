"""Expected outputs, computed once per run by the DuckDB oracle.

Everything here runs before and outside the timed region. The SQL is
the repository's own oracle (``axosyslog_spark.oracle``): the pipeline
CTE chain for per-sink counts and the histogram, and
``patterndb_select_sql`` for per-rule counts.
"""

from __future__ import annotations

import duckdb

from axosyslog_spark import oracle


def _connect(events_glob: str, temp_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config={"threads": threads, "temp_directory": temp_dir})
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_glob}')")
    return con


def routed_expectations(events_glob: str, temp_dir: str, threads: int) -> dict:
    """Per-sink counts and the (sink, severity, tool_category) histogram."""
    con = _connect(events_glob, temp_dir, threads)
    try:
        con.execute(
            "CREATE TEMP TABLE r AS "
            + oracle.pipeline_prefix()
            + "SELECT sink, severity, coalesce(tool_category, '') AS tool_category FROM routed"
        )
        sinks = dict(con.execute("SELECT sink, count(*) FROM r GROUP BY sink").fetchall())
        hist = con.execute(
            "SELECT sink, severity, tool_category, count(*) FROM r GROUP BY ALL"
        ).fetchall()
        turns = con.execute("SELECT count(*) FROM events").fetchone()[0]
    finally:
        con.close()
    return {
        "turns": int(turns),
        "sink_counts": {k: int(v) for k, v in sinks.items()},
        "histogram": sorted((s, int(sev), tc, int(n)) for s, sev, tc, n in hist),
    }


def patterndb_expectations(events_glob: str, temp_dir: str, threads: int, pdb) -> dict:
    """Per-``rule_id`` counts (NULL = unmatched) of ``pdb`` over the
    parsed message bodies."""
    select = oracle.patterndb_select_sql(pdb, "body", "FROM parsed2", "conv_id, turn_idx")
    con = _connect(events_glob, temp_dir, threads)
    try:
        rows = con.execute(
            oracle.pipeline_prefix()
            + f"SELECT rule_id, count(*) FROM ({select}) GROUP BY rule_id"
        ).fetchall()
        turns = con.execute("SELECT count(*) FROM events").fetchone()[0]
    finally:
        con.close()
    return {"turns": int(turns), "rule_counts": {k: int(v) for k, v in rows}}
