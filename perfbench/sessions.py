"""Start and stop Spark the same way on every commit.

The session comes from the program's own ``session.get_spark``; this
module pins only what that function reads from outside: ``local[k]``
with k = min(nproc, 4), and the Spark driver's heap through the
``SPARK_DRIVER_MEM`` variable. It also keeps every file Spark, the JVM
and Python write inside the benchmark's work directory.

``stop`` ends the JVM too (PySpark keeps it alive across
``SparkSession.stop``), so the next ``start`` pays a full launch, as
every ``spark-submit`` does.
"""

from __future__ import annotations

import os
import subprocess
import time

from pyspark import SparkContext
from pyspark.sql import SparkSession

from perfbench import procstat

DRIVER_MEM = "2g"


def cores() -> int:
    return min(len(os.sched_getaffinity(0)), 4)


def pin_environment(root: str, work: str) -> None:
    """Set before the first JVM starts; inherited by the JVM and workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: no hsperfdata file under /tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("SPARK_GRAFT_CPUS", None)


def start(extra_conf: dict[str, str] | None = None) -> tuple[SparkSession, float]:
    """Session plus its first trivial job; returns (spark, seconds)."""
    from axosyslog_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=cores(), extra_conf=extra_conf)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def jvm_pid(spark: SparkSession) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop(spark: SparkSession) -> None:
    """Stop the session, end the JVM and wait for it and its children."""
    gateway = spark.sparkContext._gateway
    pids = procstat.tree(gateway.proc.pid)
    spark.stop()
    _end_jvm(gateway, pids)


def shutdown() -> None:
    """End whatever session and JVM are still running (error paths)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        stop(active)
    elif SparkContext._gateway is not None:
        gateway = SparkContext._gateway
        _end_jvm(gateway, procstat.tree(gateway.proc.pid))


def _end_jvm(gateway, pids: list[int]) -> None:
    gateway.shutdown()
    # the JVM's gateway server exits when its stdin closes
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    procstat.reap(pids)
    SparkContext._gateway = None
    SparkContext._jvm = None


def describe(spark: SparkSession) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "cores": cores(),
        "driver_mem": DRIVER_MEM,
        "heap_max_mb": round(jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20, 1),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
    }
