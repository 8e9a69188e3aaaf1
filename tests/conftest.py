import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    session = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("goose-spark-tests")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html blobs can be multi-MB; keep Arrow batches bounded
        # (SURVEY.md §4.2 "Arrow batch sizing for huge blobs")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield session
    session.stop()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn, *args, **kwargs)`` calls ``fn`` under a fresh job
    group and returns ``(result, n)``, ``n`` the Spark jobs it launched."""
    sc = spark.sparkContext

    def count(fn, *args, **kwargs):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "count_jobs")
        try:
            result = fn(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    return count
