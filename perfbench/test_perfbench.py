"""Tests of the benchmark's own parts.

    python3 -m pytest perfbench/test_perfbench.py -q

The ledger test records a tiny event log with a local Spark session
and reads it back; the others need no Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, ledger, procstat  # noqa: E402


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a = gen.ensure_inputs(str(tmp_path / "a"), "curate_near_dup", 7)
    b = gen.ensure_inputs(str(tmp_path / "b"), "curate_near_dup", 7)
    c = gen.ensure_inputs(str(tmp_path / "c"), "curate_near_dup", 8)
    for k in ("docs", "html_bytes", "dup_groups", "near_pairs"):
        assert a[k] == b[k]
    assert a["near_pairs"] != c["near_pairs"]
    assert gen.load_sample(a, 5, 1) == gen.load_sample(b, 5, 1)
    again = gen.ensure_inputs(str(tmp_path / "a"), "curate_near_dup", 7)
    assert again["cached"] and not a["cached"]


def test_warc_files_round_trip_through_the_sample_reader(tmp_path):
    shape = gen.ensure_inputs(str(tmp_path), "extract_heavy_warc", 3)
    rows = gen.load_sample(shape, shape["docs"], 0)
    assert len(rows) == shape["docs"]
    assert sum(len(h) for _, h in rows) == shape["html_bytes"]
    assert len(os.listdir(shape["data"])) == gen.SIZES["extract_heavy_warc"]["files"]


def _write_events(path, events):
    with open(path, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")


def test_ledger_groups_task_ends_by_job_description(tmp_path):
    log = tmp_path / "eventlog_v2_app"
    log.mkdir()
    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
            "Task Info": {"Accumulables": [
                {"Name": "time to run Python workers", "Update": "1500"},
                {"Name": "data sent to Python workers", "Update": str(2**20)}]},
            "Task Metrics": {"Executor Run Time": 2000,
                             "Executor CPU Time": 10**9, "JVM GC Time": 100,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**21},
                             "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0}}
    fast = json.loads(json.dumps(task))
    fast["Task Metrics"]["Executor Run Time"] = 1000
    _write_events(log / "events_1_app", [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [1, 2],
         "Submission Time": 1000,
         "Properties": {"spark.job.description": "call.a"}},
        task,
    ])
    _write_events(log / "events_2_app", [
        fast,
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 4000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [3],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 5}},
    ])
    calls = ledger.read_ledger(str(tmp_path))
    assert set(calls) == {"call.a"}
    s = ledger.summarize(calls["call.a"])
    assert s["stages"] == 1 and s["tasks"] == 2
    assert s["executor_run_s"] == 3.0 and s["executor_cpu_s"] == 2.0
    assert s["task_skew"] == 2000 / 1500
    assert s["shuffle_write_mib"] == 4.0
    assert s["python_run_s"] == 3.0 and s["bytes_to_python_mib"] == 2.0
    assert ledger.python_job_seconds(calls["call.a"]) == (3.0, 0.0)
    assert ledger.summarize(None)["tasks"] == 0


@pytest.mark.slow
def test_ledger_reads_a_log_recorded_by_spark(tmp_path):
    """Record a tiny event log: one tagged mapInArrow + groupBy job,
    then an untagged reference job, which the ledger must ignore."""
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession, functions as F

    from perfbench import session
    from perfbench.reference import reference_s

    session.prepare_env(str(tmp_path), ROOT)
    conf = session.session_config(str(tmp_path), str(tmp_path / "ev"))
    conf["spark.master"] = "local[2]"
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        def double(batches):
            for b in batches:
                yield b

        spark.sparkContext.setJobDescription("tiny.call")
        (spark.range(1000, numPartitions=4).mapInArrow(double, "id long")
         .groupBy((F.col("id") % 10).alias("k")).count()
         .write.format("noop").mode("overwrite").save())
        spark.sparkContext.setJobDescription(None)
        assert reference_s(spark, 2, jobs=1) > 0
    finally:
        spark.stop()
    calls = ledger.read_ledger(str(tmp_path / "ev"))
    assert set(calls) == {"tiny.call"}
    s = ledger.summarize(calls["tiny.call"])
    assert s["stages"] >= 2
    assert s["tasks"] >= 4
    assert s["executor_run_s"] > 0
    assert s["shuffle_write_mib"] > 0
    assert s["bytes_to_python_mib"] > 0 and s["bytes_from_python_mib"] > 0


def test_tree_sampler_counts_jvm_tree_cpu_and_rss(tmp_path):
    """Only a process named ``java`` and what runs under it count: here
    a Python interpreter started through a link named ``java`` whose
    child allocates 64 MiB and spins for half a second."""
    java = tmp_path / "java"
    java.symlink_to(sys.executable)
    child = ("import time\nx = b\"x\" * (64 << 20)\nt = time.time()\n"
             "while time.time() - t < 0.5: pass")
    with procstat.TreeSampler(interval_s=0.02) as sampler:
        sampler.open_window()
        proc = subprocess.Popen(
            [str(java), "-c",
             f"import subprocess\n"
             f"subprocess.run([{os.path.realpath(sys.executable)!r}, '-c', "
             f"{child!r}], check=True)"])
        assert proc.wait(timeout=30) == 0
        cpu, peak = sampler.close_window()
    assert 0.3 <= cpu <= 3.0
    assert peak >= 60
