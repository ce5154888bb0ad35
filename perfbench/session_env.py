"""Launcher hygiene for the benchmark process.

Everything Spark or Python writes goes under one work directory inside the
checkout; the engine package is put on ``PYTHONPATH`` so Spark's Python
workers (``mapInPandas`` stages) can import it from any working directory;
the master is pinned to ``local[<usable cores>]``.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "nyc_taxi_dataset_analysis_apache_hive_spark"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PKG, "__init__.py"))


def prepare_env(work: str) -> None:
    """Set the process environment before pyspark is imported."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def spark_confs(work: str) -> dict[str, str]:
    jopts = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Dderby.system.home={work} -XX:-UsePerfData"
    )
    return {
        "spark.driver.extraJavaOptions": jopts,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }


def timed_setup(work: str):
    """Import the engine, start the session, run the first collected job.

    Returns ``(spark, {"import_s", "get_spark_s", "first_job_s", "setup_s"})``.
    """
    t0 = time.perf_counter()
    from nyc_taxi_dataset_analysis_apache_hive_spark import registry  # noqa: F401
    from nyc_taxi_dataset_analysis_apache_hive_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores()}]",
        extra_confs=spark_confs(work),
    )
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    spark.range(0, 1000, 1, cores()).selectExpr("sum(id)").collect()
    t3 = time.perf_counter()
    return spark, {
        "import_s": t1 - t0,
        "get_spark_s": t2 - t1,
        "first_job_s": t3 - t2,
        "setup_s": t3 - t0,
        "get_spark_span": (t1, t2),
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    spark.stop()
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None

