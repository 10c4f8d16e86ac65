"""A/B variants for the parse stage on the 5M-row bench input.

p0   current parse_header
p1   parse_header with staged pri token (regex once, not inlined 6x)
p2   p1 + split-based RFC5424 validation (no full-line rlike probe)
kv0  current parse_kv (4 regexp_extract scans)
kv1  str_to_map single scan + try_cast
js0  current parse_json_fields (one json_tuple)
js1  from_json once into a struct
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Column, DataFrame, functions as F  # noqa: E402

from axosyslog_spark.operators.parse import (  # noqa: E402
    DEFAULT_PRI, RFC5424_RE, TS_FMT_SPARK, classify_kind, parse_header,
    parse_kv, parse_json_fields,
)
from axosyslog_spark.session import get_spark  # noqa: E402
from axosyslog_spark.sources.transcripts import generate_transcripts  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def parse_header_v1(df: DataFrame, text_col: str = "text",
                    split_probe: bool = False) -> DataFrame:
    text = F.col(text_col)
    if split_probe:
        # split-first validation: tokens 1..7 (0-based 1..6) nonempty,
        # exactly 8 parts, part 0 is <1-3 digits>digit
        df = df.withColumn(
            "__toks0", F.when(text.startswith("<"), F.split(text, " ", 8)))
        t0 = F.col("__toks0")
        ok = (
            (F.size(t0) == 8)
            & F.element_at(t0, 1).rlike("^<[0-9]{1,3}>[0-9]$")
            & ~F.exists(F.slice(t0, 2, 6), lambda x: x == "")
        )
        df = df.withColumn(
            "kind",
            F.when(F.coalesce(ok, F.lit(False)), F.lit("syslog"))
            .when(text.startswith("{"), F.lit("json"))
            .when(text.startswith("status="), F.lit("kv"))
            .otherwise(F.lit("free")),
        )
        kind = F.col("kind")
        df = df.withColumn("__toks", F.when(kind == "syslog", t0)).drop("__toks0")
    else:
        df = df.withColumn("kind", classify_kind(text))
        kind = F.col("kind")
        df = df.withColumn(
            "__toks", F.when(kind == "syslog", F.split(text, " ", 8)))
    toks = F.col("__toks")

    # stage the pri digits ONCE
    df = df.withColumn(
        "__pri_raw",
        F.regexp_extract(F.element_at(toks, 1), "^<([0-9]{1,3})>", 1).cast("int"),
    )
    pri_raw = F.col("__pri_raw")
    pri_num = F.when((kind == "syslog") & (pri_raw <= 191), pri_raw).otherwise(
        F.lit(DEFAULT_PRI))
    df = df.withColumn("pri", pri_num)
    pri = F.col("pri")

    def g(i: int) -> Column:
        return F.element_at(toks, i - 1)

    df = df.withColumns(
        {
            "parse_ok": kind != "free",
            "severity": (pri % 8).cast("int"),
            "facility": ((pri - pri % 8) / 8).cast("int"),
            "host": F.when(kind == "syslog", g(4)),
            "appname": F.when(kind == "syslog", g(5)),
            "procid": F.when(kind == "syslog", g(6)),
            "msg_ts": F.when(
                kind == "syslog",
                F.when(
                    F.length(g(3)) == 19,
                    F.try_to_timestamp(g(3), F.lit(TS_FMT_SPARK)),
                ).otherwise(
                    F.try_to_timestamp(g(3), F.lit(TS_FMT_SPARK + "XXX"))
                ),
            ),
            "body": F.when(kind == "syslog", g(9)).otherwise(text),
            "tags": F.when(kind != "free", F.array(kind)).otherwise(
                F.array(F.lit("unparsed"))
            ),
        }
    ).drop("__toks", "__pri_raw")
    return df


def parse_kv_v1(df: DataFrame, src_col: str = "body") -> DataFrame:
    src = F.col(src_col)
    df = df.withColumn("__kvm", F.str_to_map(src, F.lit(" "), F.lit("=")))
    m = F.col("__kvm")
    return df.withColumns(
        {
            "status": F.nullif(m["status"], F.lit("")),
            "latency_ms": F.nullif(m["latency_ms"], F.lit("")).try_cast("bigint"),
            "path": F.nullif(m["path"], F.lit("")),
            "retry": F.nullif(m["retry"], F.lit("")).try_cast("int"),
        }
    ).drop("__kvm")


_JSON_SCHEMA = "k bigint, event string, latency_ms bigint"


def parse_json_v1(df: DataFrame, src_col: str = "text") -> DataFrame:
    src = F.col(src_col)
    is_json = F.col("kind") == "json"
    df = df.withColumn(
        "__js", F.when(is_json, F.from_json(src, _JSON_SCHEMA)))
    js = F.col("__js")
    return df.withColumns(
        {
            "json_k": js["k"],
            "json_event": js["event"],
            "latency_ms": F.coalesce(F.col("latency_ms"), js["latency_ms"]),
        }
    ).drop("__js")


def main():
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("parse_variants", cores=cpus, shuffle_partitions=max(cpus, 8))
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    gen = generate_transcripts(spark, rows, max(rows // 200, 1),
                               skew_hot_convs=5, partitions=cpus * 4)
    gen.persist()
    gen.count()

    def timed(name, fn, warm=1):
        for _ in range(warm):
            fn()
        best, samples = float("inf"), []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            samples.append(round(dt, 3))
            best = min(best, dt)
        print(f"{name:26s} {best:7.3f}  {samples}", flush=True)

    # equivalence on 300k rows
    small = gen.limit(300000)
    a = parse_header(small)
    cols = a.columns
    for nm, v in [("p1", parse_header_v1(small)),
                  ("p2", parse_header_v1(small, split_probe=True))]:
        b = v.select(cols)
        d = a.exceptAll(b).count() + b.exceptAll(a).count()
        print(f"parse_header {nm} diff: {d}", flush=True)
    a2 = parse_kv(parse_header(small))
    cols2 = a2.columns
    b2 = parse_kv_v1(parse_header(small)).select(cols2)
    print("parse_kv kv1 diff:",
          a2.exceptAll(b2).count() + b2.exceptAll(a2).count(), flush=True)
    a3 = parse_json_fields(parse_kv(parse_header(small)))
    cols3 = a3.columns
    b3 = parse_json_v1(parse_kv(parse_header(small))).select(cols3)
    print("parse_json js1 diff:",
          a3.exceptAll(b3).count() + b3.exceptAll(a3).count(), flush=True)

    h = lambda d: d.select(F.xxhash64(*d.columns).alias("h"))  # noqa: E731
    timed("p0_header", lambda: noop(h(parse_header(gen))))
    timed("p1_header_staged_pri", lambda: noop(h(parse_header_v1(gen))))
    timed("p2_header_splitprobe", lambda: noop(h(parse_header_v1(gen, split_probe=True))))
    timed("kv0_full(p0+kv)", lambda: noop(h(parse_kv(parse_header(gen)))))
    timed("kv1_full(p0+map)", lambda: noop(h(parse_kv_v1(parse_header(gen)))))
    timed("js0(p0+kv0+json)", lambda: noop(h(parse_json_fields(parse_kv(parse_header(gen))))))
    timed("js1(p0+kv0+fromjson)", lambda: noop(h(parse_json_v1(parse_kv(parse_header(gen))))))
    timed("best_combo(p2+kv1+js1)", lambda: noop(h(
        parse_json_v1(parse_kv_v1(parse_header_v1(gen, split_probe=True))))))
    timed("p0_header(2)", lambda: noop(h(parse_header(gen))))
    timed("cur_combo(2)", lambda: noop(h(
        parse_json_fields(parse_kv(parse_header(gen))))))
    timed("best_combo(2)", lambda: noop(h(
        parse_json_v1(parse_kv_v1(parse_header_v1(gen, split_probe=True))))))

    gen.unpersist()


if __name__ == "__main__":
    main()
