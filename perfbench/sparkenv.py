"""Start and stop the benchmark's Spark driver.

The benchmark process is the Spark driver. Everything Spark, the JVM and
Python write goes under the run's work dir, and the Python workers get the
repository root on their ``PYTHONPATH`` so they import ``mit_spark`` from
whatever directory the benchmark was started in.
"""

from __future__ import annotations

import os
import signal
import sys
import tempfile
import time

from perfbench.probes import python_workers

# the Spark driver's heap: the corpora are small, and the host is shared
DRIVER_MEMORY = "2g"


def start(repo_root: str, work_dir: str, cores: int):
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # every JVM spark-submit starts (its launcher too): temp files in the
    # work dir, and no hsperfdata file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    from mit_spark.session import make_session

    spark = make_session(
        master=f"local[{cores}]",
        app_name="mit-spark-perfbench",
        extra={
            "spark.executorEnv.PYTHONPATH": repo_root,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # Spark's Observation listener re-analyses every failed query it hears
    # of and logs the analysis error. The engine's resume probe of a fresh
    # out dir is such a query, so after the first Observation that log line
    # is noise: silence that one logger.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.util.ExecutionListenerBus", jvm.org.apache.logging.log4j.Level.OFF)
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _wait_gone(pids: set[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def stop(spark, seen_workers: set[int]) -> None:
    """Stop the session, end the JVM and wait until it and every Python
    worker it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = set(seen_workers) | set(python_workers(proc.pid))
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        _wait_gone(workers, timeout=15)
