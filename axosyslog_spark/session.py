"""SparkSession factory tuned for this engine.

Local mode is a correctness/bench sandbox; the configs below are the
ones that also matter on a real multi-executor cluster:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- shuffle partitions sized to cores locally; on a cluster this should
  be ~2-3x total executor cores (or left to AQE's coalescing)
- Arrow enabled: every pandas UDF / toPandas crosses via Arrow batches
- session timezone pinned UTC so event-time semantics are stable and
  DuckDB-oracle comparisons are exact
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_GIB = 1 << 30


def available_memory() -> int | None:
    """Bytes this process can use: the smaller of the cgroup memory
    limit (v2 ``memory.max`` or v1 ``memory.limit_in_bytes``) and the
    kernel's ``MemAvailable``; None where neither is readable."""
    known = []
    for path in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(path) as f:
                text = f.read().strip()
        except OSError:
            continue
        if text.isdigit():  # v2 writes "max" when unlimited
            known.append(int(text))
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    known.append(int(line.split()[1]) * 1024)
    except OSError:
        pass
    return min(known, default=None)


def default_driver_mem(available: int | None = None) -> str:
    """Driver heap when $SPARK_DRIVER_MEM is unset: a third of the
    available memory in whole GiB, between 2g and 16g. The heap is
    pre-touched (see get_spark), so it must fit next to the Python
    workers and the JVM's off-heap memory; a 16g heap cannot start on
    a 15 GiB host. Unknown memory gets the 2g floor."""
    if available is None:
        available = available_memory()
    gib = min(16, max(2, (available or 0) // 3 // _GIB))
    return f"{gib}g"


def get_spark(
    app_name: str = "axosyslog_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores; the
    driver heap to $SPARK_DRIVER_MEM or default_driver_mem().
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or default_driver_mem()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.driver.memory", driver_mem)
        # Two JVM flags, both measured on this engine's hot paths:
        #
        # -XX:-DontCompileHugeMethods — wide generated spans (e.g. a
        # 50-rule PatternDB dispatch tree: ~49 KB of bytecode in one
        # whole-stage method) exceed HotSpot's DontCompileHugeMethods
        # ceiling (8000 bytecodes) and silently run interpreted, a
        # measured ~30x per-expression cost. Set on BOTH driver and
        # executor unconditionally: local mode only reads the driver
        # flag, but a cluster deployment that forgot the executor side
        # would silently revert to the interpreted path.
        #
        # -Xms=driver-memory + -XX:+AlwaysPreTouch — the launcher sets
        # only -Xmx, so the heap grows lazily and every expansion
        # page-faults on first touch; inside a memory-overcommitted VM
        # those faults are kernel-dominated and bursty (measured on
        # the 5M-row pipeline at local[8]: 14.4s best with a growing
        # heap vs 6.5s steady with a pre-touched fixed heap — 2.2x,
        # with /proc/stat showing 2x more system than user time in the
        # growing-heap runs). Pre-touching moves the cost to session
        # startup, off every measured path. Executors on a real
        # cluster size their own heap; AlwaysPreTouch alone still
        # batches their expansion faults.
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:-DontCompileHugeMethods -Xms{driver_mem} "
            "-XX:+AlwaysPreTouch",
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:-DontCompileHugeMethods -XX:+AlwaysPreTouch",
        )
        # PySpark's call-site capture (_with_origin) wraps every F.* /
        # Column call with ~5 py4j calls and a Python stack walk; one
        # plan build makes hundreds to thousands of such calls. Off,
        # measured in one process with passes interleaved (150k turns,
        # local[4]): route_fanout pass 1.68 s -> 1.48 s, patterndb_50
        # pass 1.95 s -> 1.39 s (medians of 8). The cost: analysis
        # errors lose the Python file:line "DataFrame" context. PySpark
        # reads this once per process, from the first active session,
        # so it has to be set here, at build time.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
