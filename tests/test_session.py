"""Session sizing: the default pre-touched driver heap fits the host,
and a heap that does not fit is not pre-touched; the spark-submit
runner applies the same engine settings as get_spark."""

from __future__ import annotations

from types import SimpleNamespace

from axosyslog_spark.session import (
    available_memory,
    default_driver_mem,
    driver_java_options,
)

GIB = 1 << 30


def _gib(mem: str) -> int:
    assert mem.endswith("g")
    return int(mem[:-1])


def test_default_heap_fits_this_host():
    avail = available_memory()
    assert avail is not None  # Linux: cgroup limit and/or /proc/meminfo
    heap = _gib(default_driver_mem()) * GIB
    assert 2 * GIB <= heap <= 16 * GIB
    # a third of what is available, unless that is under the 2g floor
    assert heap <= max(avail // 3, 2 * GIB)


def test_default_heap_formula():
    assert default_driver_mem(15 * GIB) == "5g"
    assert default_driver_mem(15 * GIB - 1) == "4g"  # whole GiB, rounded down
    assert default_driver_mem(64 * GIB) == "16g"  # capped
    assert default_driver_mem(1 * GIB) == "2g"  # floor
    assert default_driver_mem(0) == "2g"  # unknown memory


PRETOUCH = "-XX:-DontCompileHugeMethods -Xms{} -XX:+AlwaysPreTouch"


def test_pretouch_only_when_heap_fits(caplog):
    assert driver_java_options("5g", 15 * GIB) == PRETOUCH.format("5g")
    assert driver_java_options("2g", 2 * GIB) == PRETOUCH.format("2g")  # exactly fits
    assert driver_java_options("512m", 1 * GIB) == PRETOUCH.format("512m")
    assert driver_java_options("5g", None) == PRETOUCH.format("5g")  # unknown memory
    assert not caplog.records
    # an exported 16g on a 15 GiB host; the 2g floor on a 1 GiB host
    with caplog.at_level("WARNING", logger="axosyslog_spark.session"):
        assert driver_java_options("16g", 15 * GIB) == "-XX:-DontCompileHugeMethods"
        assert driver_java_options("2g", 1 * GIB) == "-XX:-DontCompileHugeMethods"
        assert driver_java_options("2049M", 2 * GIB) == "-XX:-DontCompileHugeMethods"
    assert len(caplog.records) == 3
    assert "16g" in caplog.records[0].getMessage()


LOCAL_SIZING = {
    "spark.master",
    "spark.sql.shuffle.partitions",
    "spark.driver.memory",
    "spark.driver.extraJavaOptions",
    "spark.ui.enabled",
}


def test_runner_cluster_session_has_the_engine_settings(monkeypatch):
    """The spark-submit path (no --local-cores) builds its session with
    every engine setting get_spark applies; get_spark adds only local
    sizing on top. No JVM starts: getOrCreate records the options."""
    from pyspark.sql import SparkSession

    from axosyslog_spark import runner
    from axosyslog_spark.session import get_spark

    built = []

    def record(builder):
        built.append(dict(builder._options))
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda level: None)
        )

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", record)
    runner.build_session(None)
    get_spark("t", cores=2)
    cluster, local = built
    assert "spark.master" not in cluster  # the cluster's master stays
    assert "-XX:-DontCompileHugeMethods" in cluster["spark.executor.extraJavaOptions"]
    assert cluster["spark.python.sql.dataFrameDebugging.enabled"] == "false"
    assert cluster["spark.sql.execution.arrow.pyspark.enabled"] == "true"
    assert cluster["spark.sql.autoBroadcastJoinThreshold"] == str(64 << 20)
    assert set(local) - set(cluster) == LOCAL_SIZING
    shared = set(cluster) - {"spark.app.name"}
    assert {k: local[k] for k in shared} == {k: cluster[k] for k in shared}
