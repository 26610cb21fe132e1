"""The driver JVM set-up ``get_spark`` launches: the serial collector, a
native-heap trim every second and two JIT compiler threads, kept when a
caller adds its own ``spark.driver.extraJavaOptions``."""

from __future__ import annotations

import json
import os
import subprocess
import sys

FLAGS = ["-XX:+UseSerialGC", "-XX:TrimNativeHeapInterval=1000", "-XX:CICompilerCount=2"]
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cmdline(pid: int) -> list[str]:
    with open(f"/proc/{pid}/cmdline", "rb") as fh:
        return fh.read().decode().split("\0")


def test_driver_jvm_runs_the_serial_collector(spark):
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    assert sorted(b.getName() for b in mf.getGarbageCollectorMXBeans()) == [
        "Copy", "MarkSweepCompact"]
    opts = spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions")
    assert opts.split() == FLAGS
    cmdline = _cmdline(mf.getRuntimeMXBean().getPid())
    assert all(flag in cmdline for flag in FLAGS), cmdline


_CHILD = """
import json, sys
from data_warehouse_spark.session import get_spark
spark = get_spark(app_name="dwh-session-test", master="local[1]", extra_conf={
    "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + sys.argv[1]})
jvm = spark.sparkContext._jvm
pid = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid()
with open(f"/proc/{pid}/cmdline", "rb") as fh:
    print(json.dumps(fh.read().decode().split("\\0")))
spark.stop()
"""


def test_caller_extra_java_options_add_to_the_flags(tmp_path):
    """A caller's extraJavaOptions (perfbench passes ``-Djava.io.tmpdir``)
    reach the JVM next to the flags instead of replacing them. A fresh
    JVM, so it runs in a child process."""
    env = dict(os.environ, SPARK_DRIVER_MEMORY="512m",
               PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])))
    proc = subprocess.run([sys.executable, "-c", _CHILD, str(tmp_path)], env=env, cwd=tmp_path,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    cmdline = json.loads(proc.stdout.strip().splitlines()[-1])
    assert all(flag in cmdline for flag in FLAGS), cmdline
    assert f"-Djava.io.tmpdir={tmp_path}" in cmdline, cmdline
