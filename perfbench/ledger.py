"""Stage ledger from Spark's own event log (stdlib only).

The traced run enables ``spark.eventLog`` and tags each timed call
with ``setJobDescription``. This module reads the log back — a plain
file or a rolling ``eventlog_v2_*/events_*`` directory — and groups
every ``SparkListenerTaskEnd`` by the description of the job that
submitted its stage.
"""

from __future__ import annotations

import json
import os
import re
import statistics

_PYTHON_ACCUMS = {
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}


def event_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``, rolling parts in order."""
    out = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path) and entry.startswith("eventlog_v2_"):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(re.match(r"events_(\d+)_", p).group(1)))
            out += [os.path.join(path, p) for p in parts]
        elif os.path.isfile(path) and not entry.endswith(".inprogress"):
            out.append(path)
    return out


def _events(log_dir: str):
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _new_call() -> dict:
    return {"stages": set(), "jobs": {}, "run_ms": [], "cpu_ns": 0,
            "gc_ms": 0, "shuffle_write": 0, "spill": 0,
            "python": dict.fromkeys(_PYTHON_ACCUMS.values(), 0),
            "job_python": {}}


def read_ledger(log_dir: str) -> dict[str, dict]:
    """{job description: raw per-call totals} over the whole log."""
    stage_desc: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    job_start: dict[int, tuple[str, int]] = {}
    calls: dict[str, dict] = {}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            if desc is None:
                continue
            job_start[ev["Job ID"]] = (desc, ev.get("Submission Time", 0))
            for sid in ev.get("Stage IDs", ()):
                # a reused stage keeps the job that first submitted it
                stage_desc.setdefault(sid, desc)
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            start = job_start.get(ev["Job ID"])
            if start is not None:
                call = calls.setdefault(start[0], _new_call())
                call["jobs"][ev["Job ID"]] = (ev.get("Completion Time", 0)
                                              - start[1]) / 1e3
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            desc = stage_desc.get(sid)
            if desc is None:
                continue
            call = calls.setdefault(desc, _new_call())
            tm = ev.get("Task Metrics") or {}
            call["stages"].add(sid)
            call["run_ms"].append(tm.get("Executor Run Time", 0))
            call["cpu_ns"] += tm.get("Executor CPU Time", 0)
            call["gc_ms"] += tm.get("JVM GC Time", 0)
            call["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            call["spill"] += (tm.get("Memory Bytes Spilled", 0)
                              + tm.get("Disk Bytes Spilled", 0))
            jid = stage_job[sid]
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                key = _PYTHON_ACCUMS.get(acc.get("Name"))
                if key is not None:
                    v = int(acc.get("Update") or 0)
                    call["python"][key] += v
                    if key == "bytes_to_python":
                        call["job_python"][jid] = call["job_python"].get(jid, 0) + v
    return calls


def summarize(call: dict | None) -> dict[str, float]:
    """Per-call metrics: stages, tasks, executor run/CPU/GC seconds,
    task skew (max over median task run time), shuffle write and
    spill MiB, and the Python-worker accumulables."""
    if call is None:
        call = _new_call()
    run = call["run_ms"]
    med = statistics.median(run) if run else 0
    py = call["python"]
    return {
        "stages": len(call["stages"]),
        "tasks": len(run),
        "executor_run_s": sum(run) / 1e3,
        "executor_cpu_s": call["cpu_ns"] / 1e9,
        "gc_s": call["gc_ms"] / 1e3,
        "task_skew": max(run) / med if med else 0.0,
        "shuffle_write_mib": call["shuffle_write"] / 2**20,
        "spill_mib": call["spill"] / 2**20,
        "python_start_s": py["python_start_ms"] / 1e3,
        "python_init_s": py["python_init_ms"] / 1e3,
        "python_run_s": py["python_run_ms"] / 1e3,
        "bytes_to_python_mib": py["bytes_to_python"] / 2**20,
        "bytes_from_python_mib": py["bytes_from_python"] / 2**20,
    }


def python_job_seconds(call: dict | None) -> tuple[float, float]:
    """(seconds in jobs that fed Python workers, seconds in the other
    jobs) of one call — for a job that writes its extraction output and
    then its metrics, the data-write and metrics phases."""
    if call is None:
        return 0.0, 0.0
    py = sum(s for j, s in call["jobs"].items() if call["job_python"].get(j))
    return py, sum(call["jobs"].values()) - py
