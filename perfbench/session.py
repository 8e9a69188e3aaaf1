"""The Spark session the benchmark drives, and its recorded config.

Every run, on both sides of any comparison, uses exactly this config.
Everything Spark, the JVM and Python write goes under the run's work
directory inside the checkout.
"""

from __future__ import annotations

import os
import tempfile

# Python-worker allocator settings, the same ones bench.py sets: keep
# pages resident instead of trimming and re-faulting them per batch.
ALLOCATOR_ENV = {
    "MALLOC_TRIM_THRESHOLD_": "-1",
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    "MALLOC_ARENA_MAX": "4",
    "ARROW_DEFAULT_MEMORY_POOL": "system",
}

# local[K]: one JVM plus at most K Python workers
CORES = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "3g"
SHUFFLE_PARTITIONS = CORES
ARROW_BATCH_ROWS = 1024


def session_config(work: str, event_log: str | None = None) -> dict[str, str]:
    conf = {
        "spark.master": f"local[{CORES}]",
        "spark.app.name": "goose-perfbench",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
        "spark.sql.adaptive.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
        })
    return conf


def prepare_env(work: str, root: str) -> None:
    """Point every temp and scratch location at ``work`` (a directory
    the run removes when it ends) and make the package importable by
    the Python workers. Call before the JVM starts."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(ALLOCATOR_ENV)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the env var wins over spark.local.dir in local mode
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None


def start(work: str, event_log: str | None = None):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in session_config(work, event_log).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
