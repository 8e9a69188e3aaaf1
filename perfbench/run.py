#!/usr/bin/env python3
"""goose-spark benchmark: one seeded workload, end to end, checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process drives one batch job at a
time (a closed loop with one client) against a Spark ``local[K]``
session configured in ``perfbench/session.py``. The workload's inputs
are generated from the seed (``perfbench/gen.py``); each timed pass
runs the pipeline to parquet output, simulates a crash that loses a
fixed share of that output, and recovers it. After the passes the
restored output is checked for correctness.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables the
Spark event log, tags each call, runs one tagged pass plus the
in-process layer probes, and prints the per-layer metrics. The last
line of stdout is one JSON object; everything else goes to stderr.
Exit status is 0 when every correctness check passed, 1 when one
failed, 2 when the program is missing from the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "docs_per_s": "docs/s", "mib_per_s": "MiB/s",
    "cpu_s_per_kdoc": "s", "worker_peak_rss_mib": "MiB", "resume_s": "s",
    "bytes_written_per_input_byte": "ratio",
}
# calls the traced run tags with setJobDescription
LEDGER_CALLS = ("extractor", "sources.scan", "sources.read_warc", "plans.run",
                "plans.resume", "ops.maincontent", "ops.quality",
                "ops.exact_dedup", "ops.ngram_jaccard", "ops.minhash_lsh")
LEDGER_FIELDS = {"stages": "count", "tasks": "count", "executor_run_s": "s",
                 "executor_cpu_s": "s", "gc_s": "s", "task_skew": "ratio",
                 "shuffle_write_mib": "MiB", "spill_mib": "MiB"}
PYTHON_FIELDS = {"python_start_s": "s", "python_init_s": "s",
                 "python_run_s": "s", "bytes_to_python_mib": "MiB",
                 "bytes_from_python_mib": "MiB"}
CALL_WALLS = ("sources.scan", "sources.read_warc", "ops.maincontent",
              "ops.quality", "ops.exact_dedup", "ops.ngram_jaccard",
              "ops.minhash_lsh")
WARM_FILES = 1
# reported times are scaled to the host speed at which the reference
# job (reference.py) takes this long: about its time on a 4-core host
# of this kind under the usual load
REFERENCE_S = 0.75
PROBE_SAMPLE = {"extract_heavy_warc": 6, "extract_job_resume": 80,
                "curate_near_dup": 60}


def log(*parts) -> None:
    print("perfbench:", *parts, file=sys.stderr, flush=True)


def per_layer_units() -> dict[str, str]:
    from perfbench.layers import PROBE_METRICS
    units = dict(PROBE_METRICS)
    for call in LEDGER_CALLS:
        for field, unit in LEDGER_FIELDS.items():
            units[f"{call}.{field}"] = unit
    for field, unit in PYTHON_FIELDS.items():
        units[f"extractor.{field}"] = unit
    for call in CALL_WALLS:
        units[f"{call}_s"] = "s"
    units.update({
        "plans.write_s": "s", "plans.metrics_s": "s",
        "plans.files_written": "count", "plans.resume_buckets_redone": "count",
        "extractor.doc_ms_p50": "ms", "extractor.doc_ms_p99": "ms",
        "ops.minhash_lsh_recall": "ratio", "trace.wall_s": "s",
    })
    return units


class Pass:
    """One timed pass: run, crash, resume."""

    def __init__(self, wl, out: str, sampler, tags: bool = False) -> None:
        self.wl, self.out, self.sampler, self.tags = wl, out, sampler, tags
        self.call_walls: dict[str, float] = {}
        self.resume_result = None

    def _tag(self, desc: str | None) -> None:
        if self.tags:
            self.wl.spark.sparkContext.setJobDescription(desc)

    def _timed(self, desc: str | None, fn, *args):
        self._tag(desc)
        t0 = time.perf_counter()
        result = fn(*args)
        dt = time.perf_counter() - t0
        if desc is not None:
            self.call_walls[desc] = dt
        self._tag(None)
        return dt, result

    def execute(self) -> dict:
        from perfbench.workloads import dir_bytes

        wl, out = self.wl, self.out
        shutil.rmtree(out, ignore_errors=True)
        self.sampler.open_window()
        wall = self._timed(wl.RUN_TAG, wl.run, out)[0]
        cpu, rss = self.sampler.close_window()
        wl.crash(out)
        resume, self.resume_result = self._timed(wl.RESUME_TAG, wl.resume, out)
        if wl.AFTER:
            self.sampler.open_window()
            for tag, stage in wl.AFTER:
                wall += self._timed(tag, getattr(wl, stage), out)[0]
            more_cpu, more_rss = self.sampler.close_window()
            cpu, rss = cpu + more_cpu, max(rss, more_rss)
        return {"wall": wall, "cpu": cpu, "rss": rss, "written": dir_bytes(out),
                "resume": resume}


def stop_spark(spark) -> None:
    """Stop the session, the JVM it launched and every process under
    it, and wait until each has ended."""
    import subprocess

    from pyspark import SparkContext

    from perfbench.procstat import tree_snapshot

    kids = set(tree_snapshot(os.getpid()))
    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception as exc:  # noqa: BLE001 - the JVM still has to go
        log("session stop:", exc)
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception as exc:  # noqa: BLE001 - shutting down anyway
            log("gateway shutdown:", exc)
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while kids and time.monotonic() < deadline:
        kids = {p for p in kids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for pid in kids:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def traced_extras(wl, spark, out: str, seed: int,
                  resume_result) -> dict[str, float]:
    """Isolated source calls, the in-process probes, the per-doc time
    percentiles of the extraction output and the workload's own
    figures. Runs while the session and the pass output still exist."""
    import pyarrow.parquet as pq
    from goose_parser_spark.sources.warc import read_warc
    from perfbench.gen import load_sample
    from perfbench.layers import probe

    sc = spark.sparkContext
    m: dict[str, float] = {}
    if wl.shape["format"] == "warc":
        tag, df = "sources.read_warc", read_warc(spark, wl.shape["data"])
    else:
        tag, df = "sources.scan", spark.read.parquet(wl.shape["data"])
    sc.setJobDescription(tag)
    t0 = time.perf_counter()
    df.select("url", "html").write.format("noop").mode("overwrite").save()
    m[f"{tag}_s"] = time.perf_counter() - t0
    sc.setJobDescription(None)

    sample = load_sample(wl.shape, PROBE_SAMPLE[wl.name], seed)
    rules = getattr(wl, "rules", None)
    m.update(probe(sample, rules))
    m.update(wl.layer_metrics(out, resume_result))
    if rules is not None:
        ns = sorted(v for v in pq.read_table(wl.data_dir(out),
                                             columns=["parse_ns"])
                    .column("parse_ns").to_pylist() if v is not None)
        m["extractor.doc_ms_p50"] = statistics.median(ns) / 1e6
        m["extractor.doc_ms_p99"] = ns[min(len(ns) - 1, int(0.99 * len(ns)))] / 1e6
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import goose_parser_spark  # noqa: F401 - the program under test
    except ImportError as exc:
        log(f"the program is missing from this checkout: {exc}")
        return 2
    from perfbench import session
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    # on SIGTERM, unwind through the finally below: it stops the JVM
    # and the workers and removes the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    session.prepare_env(run_dir, ROOT)
    from perfbench.gen import ensure_inputs
    from perfbench.ledger import python_job_seconds, read_ledger, summarize
    from perfbench.procstat import TreeSampler
    from perfbench.reference import reference_s

    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    out = os.path.join(run_dir, "out")
    spark = None
    try:
        with TreeSampler() as sampler:
            t0 = time.perf_counter()
            spark = session.start(run_dir, event_log)
            session_s = time.perf_counter() - t0
            loads = []
            for _ in range(3):
                t0 = time.perf_counter()
                shape = ensure_inputs(WORK, args.workload, args.seed)
                wl = WORKLOADS[args.workload](spark, shape)
                wl.load()
                loads.append(time.perf_counter() - t0)
            log(f"{args.workload} seed={args.seed}: {shape['docs']} docs, "
                f"{shape['html_bytes'] / 2**20:.1f} MiB html, "
                f"{shape['mean_elements']:.0f} elements/doc, "
                f"{len(shape.get('poison', ()))} poison, "
                f"{len(shape.get('dup_groups', ()))} exact-dup groups, "
                f"{len(shape.get('near_pairs', ()))} near-dup pairs; "
                f"first input load {loads[0]:.2f} s")
            # warm-up: the first stage over the first WARM_FILES input
            # files starts the Python workers
            wl.subset = sorted(os.listdir(shape["data"]))[:WARM_FILES]
            t0 = time.perf_counter()
            wl.run(os.path.join(run_dir, "warm"))
            warm_s = time.perf_counter() - t0
            wl.subset = None
            setup_s = session_s + statistics.median(loads) + warm_s
            log(f"setup: session {session_s:.2f} s, inputs "
                f"{statistics.median(loads):.2f} s, warm-up pass {warm_s:.2f} s")

            # the first reference job imports its module in every worker
            reference_s(spark, session.CORES, jobs=1)
            host = [reference_s(spark, session.CORES)]
            passes = []
            t_start = time.perf_counter()
            while True:
                p = Pass(wl, out, sampler, tags=bool(args.trace))
                passes.append(p.execute())
                used = time.perf_counter() - t_start
                if args.trace or used + used / len(passes) > args.seconds:
                    break
            host.append(reference_s(spark, session.CORES))
            log("passes:", json.dumps(passes))
            t0 = time.perf_counter()
            chk = wl.check(out, args.seed)
            log(f"checks {time.perf_counter() - t0:.2f} s")
            for note in chk.notes[:20]:
                log("CHECK FAILED:", note)
            if args.trace:
                extras = traced_extras(wl, spark, out, args.seed,
                                       p.resume_result)
            t0 = time.perf_counter()
            stop_spark(spark)
            spark = None
            log(f"stop {time.perf_counter() - t0:.2f} s")
            # the log is complete once the session has stopped
            calls = read_ledger(event_log) if args.trace else {}
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    docs, html = shape["docs"], shape["html_bytes"]
    med = {k: statistics.median(p[k] for p in passes) for k in passes[0]}
    # times are reported at the reference host speed
    scale = REFERENCE_S / statistics.mean(host)
    log(f"reference job {host[0]:.3f} s before and {host[1]:.3f} s after "
        f"the passes: times scaled by {scale:.4f}; raw setup {setup_s:.3f} s, "
        f"wall {med['wall']:.3f} s, resume {med['resume']:.3f} s")
    if not args.trace:
        wall = med["wall"] * scale
        values = {
            "setup_s": setup_s * scale,
            "wall_s": wall,
            "docs_per_s": docs / wall,
            "mib_per_s": html / 2**20 / wall,
            "cpu_s_per_kdoc": med["cpu"] * scale / (docs / 1000),
            "worker_peak_rss_mib": med["rss"],
            "resume_s": med["resume"] * scale,
            "bytes_written_per_input_byte": med["written"] / html,
        }
        units = END_TO_END
    else:
        units = per_layer_units()
        values = dict.fromkeys(units, 0.0)
        for call in LEDGER_CALLS:
            summary = summarize(calls.get(call))
            for field in LEDGER_FIELDS:
                values[f"{call}.{field}"] = summary[field]
        for field in PYTHON_FIELDS:
            values[f"extractor.{field}"] = sum(
                summarize(calls.get(c))[field] for c in ("extractor", "plans.run"))
        for call in CALL_WALLS:
            values[f"{call}_s"] = p.call_walls.get(call, 0.0)
        values["plans.write_s"], values["plans.metrics_s"] = \
            python_job_seconds(calls.get("plans.run"))
        values.update(extras)
        values["trace.wall_s"] = passes[0]["wall"] * scale
    result = {
        "correct": chk.failed == 0,
        "attempted": docs,
        "failed": chk.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if chk.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
