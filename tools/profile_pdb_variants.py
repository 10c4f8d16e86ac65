"""Same-process A/B of PatternDB's two tier strategies.

A dispatch leaf of k members runs the complete and partial radix
tiers either MERGED (one 2k-alternative regex, one execution per row,
a 2k-block replacement template Java re-parses per matching row) or
TWO-PASS (a k-alternative regex per tier, chained). The engine picks
per leaf from ``patterndb._MERGE_MAX_MEMBERS``; this tool times its
own ``PatternDB.apply`` with that constant at 0 (every leaf two-pass)
and at infinity (every leaf merged) on ONE root leaf of k prefix-less
rules: the 4 fixture rules behind a zero-width leading class, then
never-matching synthetic rules (k = 2 keeps the first two fixture
rules only).

Per k, both variants must produce the same output (an order-free
hash over rule_id and every field), then each runs once to warm up
and ``pairs`` times interleaved, the first of each pair alternating,
with the noop sink over the same persisted parse_header bodies.

Usage: python tools/profile_pdb_variants.py [rows] [pairs] [k,k,...]
       (defaults: 400000 rows, 5 pairs, k = 2,4,8,16,32,50)
Prints one line per k: median [q1-q3] seconds per variant and the
merged/two-pass ratio of medians.
"""
from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from axosyslog_spark.operators import patterndb  # noqa: E402
from axosyslog_spark.operators.parse import parse_header  # noqa: E402
from axosyslog_spark.operators.patterndb import PatternDB, PdbRule  # noqa: E402
from axosyslog_spark.operators.pdb_load import load_fixture  # noqa: E402
from axosyslog_spark.session import get_spark  # noqa: E402
from axosyslog_spark.sources.transcripts import generate_transcripts  # noqa: E402

STRATEGIES = {"two-pass": 0, "merged": float("inf")}


def prefixless_rules(k: int) -> list[PdbRule]:
    """k rules without a literal prefix (one root leaf): the fixture's
    rules first, then synthetic ones that never match the bodies."""
    [rs] = load_fixture()
    patterns = [(r.rule_id, r.patterns[0]) for r in rs.rules] + [
        (f"syn{i:03d}",
         f"svc-{i:03d} op=@ESTRING:op: @code=@NUMBER:code@ detail=@ANYSTRING:detail@")
        for i in range(max(k - len(rs.rules), 0))
    ]
    return [PdbRule(rid, f"@OPTIONALSET:: @{p}") for rid, p in patterns[:k]]


def build(rules: list[PdbRule], strategy: str) -> PatternDB:
    saved = patterndb._MERGE_MAX_MEMBERS
    patterndb._MERGE_MAX_MEMBERS = STRATEGIES[strategy]
    try:
        pdb = PatternDB(rules)
    finally:
        patterndb._MERGE_MAX_MEMBERS = saved
    assert [leaf.strategy for leaf in pdb.leaves] == [strategy]
    return pdb


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def output_hash(pdb: PatternDB, base) -> int:
    cols = ["rule_id", *pdb.field_names]
    out = pdb.apply(base, text_col="body").select(
        F.xxhash64(*[F.col(c).cast("string") for c in cols]).alias("h")
    )
    return out.agg(F.sum(F.pmod("h", F.lit(1 << 32)))).first()[0]


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    pairs = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    ks = [int(k) for k in sys.argv[3].split(",")] if len(sys.argv) > 3 else [
        2, 4, 8, 16, 32, 50
    ]
    spark = get_spark("profile_pdb_variants")
    base = parse_header(
        generate_transcripts(spark, rows, max(rows // 200, 1), skew_hot_convs=5)
    ).select("body").persist()
    base.count()

    print(f"# rows={rows} pairs={pairs} cores={spark.sparkContext.defaultParallelism}")
    print("# k  merged median [q1-q3] s  two-pass median [q1-q3] s  merged/two-pass")
    for k in ks:
        rules = prefixless_rules(k)
        pdbs = {s: build(rules, s) for s in STRATEGIES}
        hashes = {s: output_hash(p, base) for s, p in pdbs.items()}
        assert len(set(hashes.values())) == 1, (k, hashes)
        times: dict[str, list[float]] = {s: [] for s in pdbs}
        order = list(pdbs)
        for rep in range(pairs + 1):
            for s in order if rep % 2 else order[::-1]:
                t0 = time.perf_counter()
                noop(pdbs[s].apply(base, text_col="body", with_class=True))
                if rep:  # rep 0 warms both variants up
                    times[s].append(time.perf_counter() - t0)
        m, t = quartiles(times["merged"]), quartiles(times["two-pass"])
        print(
            f"{k:3d}  {m[1]:.3f} [{m[0]:.3f}-{m[2]:.3f}]  "
            f"{t[1]:.3f} [{t[0]:.3f}-{t[2]:.3f}]  {m[1] / t[1]:.3f}",
            flush=True,
        )
    base.unpersist()


if __name__ == "__main__":
    main()
