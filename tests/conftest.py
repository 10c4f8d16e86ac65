from __future__ import annotations

import glob
import os
import sys
import time

import pytest
from pyspark.errors import PySparkRuntimeError

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from axosyslog_spark.session import get_spark  # noqa: E402

_STARTED = time.time()


def _hs_err_note() -> str:
    """The newest JVM crash log written during this run, if any: the
    JVM writes hs_err_pid<pid>.log into its working directory."""
    logs = [p for p in glob.glob("hs_err_pid*.log") if os.path.getmtime(p) >= _STARTED]
    if not logs:
        return "no hs_err_pid*.log was written"
    newest = max(logs, key=os.path.getmtime)
    with open(newest, errors="replace") as f:
        head = "".join(f.readlines()[:12])
    return f"newest crash log {os.path.abspath(newest)}:\n{head}"


def _stop_if_jvm_died(spark) -> None:
    """End the run if the gateway JVM this process launched has exited."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    status = proc.poll() if proc is not None else None
    if status is not None:
        how = f"killed by signal {-status}" if status < 0 else f"exit status {status}"
        pytest.exit(
            f"the Spark JVM died ({how}); stopping the run instead of "
            f"failing each later Spark test. {_hs_err_note()}"
        )


@pytest.fixture(scope="session")
def spark():
    try:
        s = get_spark("tests", shuffle_partitions=8)
    except PySparkRuntimeError as e:  # the gateway JVM exited while starting
        pytest.exit(f"the Spark session could not start: {e}. {_hs_err_note()}")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    yield s


# str-repr and parser edge values: NULL, empty, the list delimiter,
# both quote kinds with a backslash, every C escape the str-repr
# encoder writes (and a backslash before a letter that looks like
# one), the in-band framing/marker bytes and one 20,000-character value
HOSTILE_STRINGS = [
    None, "", "a,b", "a'b\"c\\d", '"only double" \\', "it's \\ x",
    "\b", "\f", "\n", "\r", "\t", "\\", '"', "'", "b\bf\fn\nr\rt\t",
    "lit\\n", "\\\n", "a\\'b", "\x01\x02\x03\x04", "x \x02 y",
    "a\\\"b,\n c'\t" * 2000,
]


@pytest.fixture(scope="session")
def hostile_strings(spark, tmp_path_factory):
    """HOSTILE_STRINGS as an ``(id int, s string)`` frame read back from
    parquet, so no expression over it is constant-folded."""
    path = str(tmp_path_factory.mktemp("hostile") / "strings.parquet")
    spark.createDataFrame(
        list(enumerate(HOSTILE_STRINGS)), "id int, s string"
    ).write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(autouse=True)
def _spark_jvm_alive(request):
    """Around every test that uses the session: if the gateway JVM is
    gone, end the run with one error that names the cause. Tests that
    do not use Spark never start a session here."""
    if "spark" not in request.fixturenames:
        yield
        return
    spark = request.getfixturevalue("spark")
    _stop_if_jvm_died(spark)
    yield
    _stop_if_jvm_died(spark)
