"""The benchmark's Spark session: ``local[4]``, scratch inside the checkout,
and a shutdown that waits until the JVM and every Python worker are gone."""

from __future__ import annotations

import contextlib
import os
import sys

CORES = min(4, os.cpu_count() or 4)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def prepare(run_dir: str) -> None:
    """Make the package importable here and in Python workers, and keep
    every temporary file under ``run_dir``."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.makedirs(run_dir, exist_ok=True)
    os.environ["TMPDIR"] = run_dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark_local")
    # every JVM, the spark-submit launcher too: no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:+PerfDisableSharedMem -Djava.io.tmpdir={run_dir}")


def _session(run_dir: str):
    from pyspark.sql import SparkSession

    from srpr_lsh_spark.config import tune_allocator_env

    tune_allocator_env()  # before the JVM starts: workers inherit it
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.autoBroadcastJoinThreshold", "512m")
        .config("spark.driver.memory", "3g")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "spark-warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the status store must still hold every stage of a pass when the
        # traced run harvests it
        .config("spark.ui.retainedStages", "100000")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark, tree) -> None:
    """Stop the session and its JVM, and wait until the whole tree has gone."""
    from pyspark import SparkContext

    from procstat import wait_gone

    procs = tree.live_descendants()
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — escalate below
                proc.kill()
                proc.wait(timeout=10)
    for pid, _start in wait_gone(procs, 20):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    wait_gone(procs, 10)


@contextlib.contextmanager
def local_spark(run_dir: str, tree):
    spark = _session(run_dir)
    try:
        yield spark
    finally:
        _stop(spark, tree)
