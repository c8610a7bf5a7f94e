"""Spark session lifecycle for the benchmark: one driver JVM at local[N],
every scratch file inside the checkout, and a shutdown that waits for the
JVM and its Python workers to exit."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

# One driver process; never more task threads than the machine has cores.
CORES = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEMORY = "3g"


def prepare_env(root: Path, work: Path) -> None:
    """Point every scratch directory Spark and Python use at ``work`` and let
    Python workers import the library from ``root``. Must run before the
    first session starts (the JVM inherits this environment)."""
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM the launcher starts: temp files and no /tmp/hsperfdata
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'tmp'}"
    os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + java_opts).strip()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(root) + (os.pathsep + path if path else "")


def _conf(work: Path) -> dict[str, str]:
    from probably_jl_spark.conf import sketch_build_conf

    return sketch_build_conf("local", cores=CORES) | {
        "spark.master": f"local[{CORES}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # AQE coalesces post-shuffle partitions down to 1 MB each by
        # default; the benchmark's inputs are MBs, not GBs, so that would
        # run every post-shuffle stage as one task. A 64 KB floor keeps one
        # task per core there, as production-size shuffles have.
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    }


def start(work: Path):
    """Start a session; the first call launches the driver JVM."""
    from pyspark.sql import SparkSession

    from probably_jl_spark.conf import apply_conf

    spark = apply_conf(SparkSession.builder, _conf(work)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session (if one was started), then close the gateway and
    wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                # the JVM exits when its stdin closes (PythonGatewayServer)
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
