"""A dead Spark JVM stops the test run with one error naming the cause
(tests/conftest.py), instead of one ConnectionRefused per later test.

Runs an inner pytest session in a subprocess whose second test kills
the gateway JVM."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

INNER = '''
import os
import signal

from pyspark import SparkContext


def test_0_no_spark_starts_no_session():
    assert SparkContext._active_spark_context is None


def test_1_kill_the_jvm(spark):
    assert spark.range(3).count() == 3
    proc = spark.sparkContext._gateway.proc
    with open(f"hs_err_pid{proc.pid}.log", "w") as f:
        f.write("# A fatal error has been detected (inner test marker)\\n")
    os.kill(proc.pid, signal.SIGKILL)
    proc.wait()


def test_2_after_death(spark):
    spark.range(1).count()


def test_3_after_death(spark):
    spark.range(1).count()
'''


def test_jvm_death_stops_run_with_cause(tmp_path):
    (tmp_path / "conftest.py").write_text(
        f"import sys\nsys.path.insert(0, {str(REPO)!r})\n"
        "from tests.conftest import _spark_jvm_alive, spark  # noqa: F401\n"
    )
    (tmp_path / "test_inner.py").write_text(INNER)
    env = dict(os.environ, SPARK_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="1")
    res = subprocess.run(
        [sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider", "test_inner.py"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    out = res.stdout + res.stderr
    assert res.returncode != 0, out
    assert "the Spark JVM died (killed by signal 9)" in out, out
    assert "inner test marker" in out, out  # the crash log is quoted
    assert "2 passed" in out, out  # the no-Spark test and the killer
    assert "ConnectionRefusedError" not in out and "failed" not in out, out
