"""Spark session set-up and between-pass hygiene, mirroring ``bench.py``:
AQE on, UTC, ``spark.ui.enabled=false``, shuffle partitions
``max(cores, 8)``; after each pass every persisted RDD is unpersisted, the
catalog cache cleared and a JVM GC forced.

Two deliberate differences: the driver heap is capped at 4 GB instead of
16 GB (the inputs are a few MB and the host is shared), and every scratch
directory Spark or Python writes (local dirs, warehouse, ``java.io.tmpdir``,
``TMPDIR``) lives under the benchmark's own work directory.
"""

from __future__ import annotations

import os
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start(root: str, work: str) -> SparkSession:
    """A fresh session; Python workers import ``sparkplug_spark`` from
    ``root`` whatever the current directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in /tmp from the spark-submit launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp
    path = os.environ.get("PYTHONPATH", "")
    if root not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, path) if p)
    n = cores()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("sparkplug-perfbench")
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark: SparkSession) -> None:
    """Stop the session; the JVM stays up for the next one."""
    spark.stop()
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None


def shutdown() -> None:
    """Stop the JVM this process launched and wait for it to exit."""
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def hygiene(spark: SparkSession) -> None:
    """bench.py's between-pass reset (outside every timed region)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in jmap.keySet().toArray():
        jmap.get(rid).unpersist(False)
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def persisted_rdds(spark: SparkSession) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())
