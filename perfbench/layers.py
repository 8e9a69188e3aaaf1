"""In-process, driver-side per-layer probes (no Spark).

Each probe times calls into one layer's public functions over a
seeded sample of a workload's pages and reports microseconds per
document. The layers partition the extractor's batch time:

    batch = parse + index + evaluate + transforms + overhead

where ``evaluate`` is rule evaluation of the transform-stripped tree
(selectors and value extraction), ``transforms`` is the full tree
minus the stripped tree, and ``overhead`` is the Arrow batch callable
minus ``evaluate_document`` (Arrow in/out, decode, poison wrapping).

Timing is per document (per small batch for the Arrow callable): every
layer's call on one document runs back to back, the rounds repeat,
and each (layer, document) keeps its fastest round. Differences of
two layers are then taken between calls made under the same
conditions, which keeps them meaningful on a shared, noisy host.
"""

from __future__ import annotations

import gc
import time

import pyarrow as pa

from goose_parser_spark.dom.parser import parse_document
from goose_parser_spark.dom.selector import DocIndex
from goose_parser_spark.extractor import build_arrow_extractor, output_schema
from goose_parser_spark.ops.maincontent import main_content
from goose_parser_spark.rules.compiler import RuleCompiler
from goose_parser_spark.rules.evaluator import evaluate_document
from goose_parser_spark.sources.warc import iter_warc_records

from perfbench.gen import warc_file_bytes
from perfbench.rules import step_counts, strip_transforms

# rows per Arrow batch when timing the batch callable per batch
PROBE_BATCH = 16

PROBE_METRICS = {
    "extractor.batch_us_per_doc": "us",
    "extractor.overhead_us_per_doc": "us",
    "dom.parse_us_per_doc": "us",
    "dom.elements_per_doc": "count",
    "dom.index_us_per_doc": "us",
    "dom.index_entries_per_doc": "count",
    "rules.evaluate_us_per_doc": "us",
    "rules.compile_ms": "ms",
    "functions.transforms_us_per_doc": "us",
    "functions.lowered_step_share": "ratio",
    "sources.warc_parse_us_per_record": "us",
    "ops.maincontent_us_per_doc": "us",
}


def _fastest(units: int, fns: dict, reps: int) -> dict[str, float]:
    """Sum over units of the fastest of ``reps`` rounds, per function,
    in seconds. ``fns[name](i)`` does unit ``i``'s work."""
    best = {name: [float("inf")] * units for name in fns}
    names = list(fns)
    for r in range(reps):
        order = names[r % len(names):] + names[:r % len(names)]
        for i in range(units):
            # each unit starts with no cyclic garbage from the last one
            gc.collect()
            for name in order:
                fn = fns[name]
                t0 = time.perf_counter()
                fn(i)
                dt = time.perf_counter() - t0
                if dt < best[name][i]:
                    best[name][i] = dt
    return {name: sum(v) for name, v in best.items()}


def probe(sample: list[tuple[str, bytes | None]], rules_spec: dict | None,
          reps: int = 3) -> dict[str, float]:
    """Per-layer figures over ``sample``. Without a rule tree (the
    curation workload) only the layers that need none are timed: parse,
    WARC record parsing and main-content scoring; the rest read 0."""
    rows = [(u, h) for u, h in sample if h is not None]
    n = len(rows)
    htmls = [h.decode("utf-8", "replace") for _, h in rows]
    parsed = [parse_document(h) for h in htmls]
    warcs = [warc_file_bytes([u], [h]) for u, h in rows]
    records = sum(1 for r in iter_warc_records(b"".join(warcs))
                  if r["record_type"] == "response")
    out = dict.fromkeys(PROBE_METRICS, 0.0)
    if rules_spec is not None:
        compiler = RuleCompiler()
        out["rules.compile_ms"] = 1e3 * _fastest(
            1, {"c": lambda i: compiler.compile(rules_spec)}, 5)["c"]
        full = compiler.compile(rules_spec)
        bare = compiler.compile(strip_transforms(rules_spec))
        universe = full.index_universe()
        lowered, steps = step_counts(full)
        out["functions.lowered_step_share"] = lowered / steps if steps else 0.0
    else:
        universe = None
    entries = n_elements = 0
    for r, e in parsed:
        ix = DocIndex(r, e, universe=universe)
        n_elements += len(ix.all)
        entries += sum(len(v) for m in (ix.by_tag, ix.by_class, ix.by_id)
                       for v in m.values())
    # the sample's trees stay alive through the probe; keep them out
    # of every collection the timed calls trigger
    gc.collect()
    gc.freeze()
    try:
        fns = {
            "parse": lambda i: parse_document(htmls[i]),
            "warc": lambda i: sum(1 for _ in iter_warc_records(warcs[i])),
            "maincontent": lambda i: main_content(htmls[i]),
        }
        if rules_spec is not None:
            fns.update({
                "index": lambda i: DocIndex(parsed[i][0], parsed[i][1],
                                            universe=universe),
                "full": lambda i: evaluate_document(full, htmls[i],
                                                    skip_lowered=True),
                "bare": lambda i: evaluate_document(bare, htmls[i],
                                                    skip_lowered=True),
            })
        t = _fastest(n, fns, reps)
        if rules_spec is not None:
            tb = _batch_times(full, rows, htmls, reps)
    finally:
        gc.unfreeze()
    us = 1e6 / n
    out.update({
        "dom.parse_us_per_doc": t["parse"] * us,
        "dom.elements_per_doc": n_elements / n,
        "sources.warc_parse_us_per_record": t["warc"] * 1e6 / records,
        "ops.maincontent_us_per_doc": t["maincontent"] * us,
    })
    if rules_spec is not None:
        out.update({
            "extractor.batch_us_per_doc": tb["batch"] * us,
            "extractor.overhead_us_per_doc": (tb["batch"] - tb["eval"]) * us,
            "dom.index_us_per_doc": t["index"] * us,
            "dom.index_entries_per_doc": entries / n,
            "rules.evaluate_us_per_doc":
                (t["bare"] - t["parse"] - t["index"]) * us,
            "functions.transforms_us_per_doc": (t["full"] - t["bare"]) * us,
        })
    return out


def _batch_times(compiled, rows, htmls, reps: int) -> dict[str, float]:
    """The Arrow batch callable against ``evaluate_document`` alone,
    over the same small batches."""
    extractor = build_arrow_extractor(
        compiled, spark_schema=output_schema(compiled, udf=True))
    batches = [pa.RecordBatch.from_arrays(
        [pa.array([u for u, _ in rows[i:i + PROBE_BATCH]], pa.string()),
         pa.array([h for _, h in rows[i:i + PROBE_BATCH]], pa.binary())],
        names=["url", "html"]) for i in range(0, len(rows), PROBE_BATCH)]

    def batch(i):
        for out in extractor(iter([batches[i]])):
            out.num_rows

    def batch_eval(i):
        for h in htmls[i * PROBE_BATCH:(i + 1) * PROBE_BATCH]:
            evaluate_document(compiled, h, skip_lowered=True)

    return _fastest(len(batches), {"batch": batch, "eval": batch_eval}, reps)
