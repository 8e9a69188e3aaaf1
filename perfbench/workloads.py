"""The four workloads: what a timed pass runs, how a crash is
simulated and recovered, and how the outputs are checked.

Every workload's pass runs the pipeline from its generated input to a
result written as parquet under the pass's output directory. The
crash then removes a fixed share of that output (part files, or the
committed metrics rows of an ``ExtractJob``) and ``resume`` restores
it the way the program's API allows. ``check`` verifies the restored
result against the planted ground truth and a driver-side evaluation.
"""

from __future__ import annotations

import math
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from goose_parser_spark import extract
from goose_parser_spark.ops import dedup, textstats
from goose_parser_spark.ops.maincontent import extract_main_content
from goose_parser_spark.plans import ExtractJob
from goose_parser_spark.rules.compiler import RuleCompiler
from goose_parser_spark.rules.evaluator import evaluate_document
from goose_parser_spark.sources.warc import read_warc

from perfbench.gen import load_sample
from perfbench.rules import NARROW_RULES, RICH_RULES

# every CRASH_EVERY-th output part file (or bucket) is lost in a crash
CRASH_EVERY = 4
JOB_BUCKETS = 8
NEAR_DUP_THRESHOLD = 0.5


def _parts(dir_: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(dir_):
        out += [os.path.join(root, f) for f in files
                if f.startswith("part-") and f.endswith(".parquet")]
    return sorted(out)


def dir_bytes(dir_: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, files in os.walk(dir_) for f in files)


def _crash_parts(dir_: str) -> int:
    lost = _parts(dir_)[::CRASH_EVERY]
    for p in lost:
        os.remove(p)
    return len(lost)


def _spread(df):
    """The lost documents sit in the few input splits whose output was
    lost; spread them over every core before the per-document work."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _read(dir_: str, columns: list[str]) -> dict[str, list]:
    t = pq.read_table(dir_, columns=columns)
    return {c: t.column(c).to_pylist() for c in columns}


def _ngram_set(text: str, n: int = 3) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = _ngram_set(a), _ngram_set(b)
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


class Check:
    """Accumulates correctness findings for one run."""

    def __init__(self) -> None:
        self.failed = 0
        self.notes: list[str] = []

    def expect(self, ok: bool, what: str, count: int = 1) -> None:
        if not ok:
            self.failed += count
            self.notes.append(what)


class _Workload:
    """A pass's pipeline over one seeded input: run, crash, resume."""

    # job descriptions the traced run gives the pass's calls
    RUN_TAG = "extractor"
    RESUME_TAG: str | None = None
    # (tag, method) of the stages that run after the one a crash hits
    AFTER: tuple[tuple[str, str], ...] = ()

    def __init__(self, spark, shape: dict) -> None:
        self.spark = spark
        self.shape = shape
        # input files to read instead of all of them (the warm-up pass)
        self.subset: list[str] | None = None

    def source(self) -> str:
        """The input path, a brace glob over ``subset`` when set."""
        data = self.shape["data"]
        if self.subset is None:
            return data
        return f"{data}/{{{','.join(self.subset)}}}"

    def pages(self):
        return self.spark.read.parquet(self.source())

    def layer_metrics(self, out: str, resume_result) -> dict[str, float]:
        """Per-layer figures only this workload has (traced run)."""
        return {}


class _Extraction(_Workload):
    """Shared by the extraction workloads."""

    rules: dict = RICH_RULES
    sample_size = 40

    def __init__(self, spark, shape: dict) -> None:
        super().__init__(spark, shape)
        self.compiled = None

    def load(self) -> None:
        self.compiled = RuleCompiler().compile(self.rules)
        self.pages().schema  # resolves the file listing and footers

    def run(self, out: str) -> None:
        extract(self.pages(), self.compiled).write.parquet(out)

    def crash(self, out: str) -> None:
        _crash_parts(out)

    def resume(self, out: str) -> None:
        # extract() has no checkpoint: re-extract the documents whose
        # output rows are missing and append them
        done = self.spark.read.parquet(out).select("url")
        todo = self.pages().join(done, on="url", how="left_anti")
        extract(_spread(todo), self.compiled).write.mode("append").parquet(out)

    def data_dir(self, out: str) -> str:
        return out

    def check(self, out: str, seed: int) -> Check:
        chk = Check()
        docs = self.shape["docs"]
        got = _read(self.data_dir(out), ["url", "extracted", "error"])
        urls = got["url"]
        chk.expect(len(urls) == docs,
                   f"output rows {len(urls)} != input docs {docs}",
                   abs(len(urls) - docs))
        chk.expect(len(set(urls)) == len(urls), "duplicate output urls",
                   len(urls) - len(set(urls)))
        poison = self.shape.get("poison", {})
        unexpected = sum(1 for u, e in zip(urls, got["error"])
                         if e is not None and poison.get(u) != "null")
        chk.expect(unexpected == 0, f"{unexpected} unexpected error rows",
                   unexpected)
        row = {u: (x, e) for u, x, e in zip(urls, got["extracted"], got["error"])}
        sample = load_sample(self.shape, self.sample_size, seed)
        sampled = {u for u, _ in sample}
        if poison:
            by_url = dict(load_sample(self.shape, docs, 0))
            sample += [(u, by_url[u]) for u in poison if u not in sampled]
        for url, html in sample:
            x, err = row.get(url, (None, "missing"))
            if html is None:
                chk.expect(x is None and err is not None,
                           f"NULL-html doc {url} not isolated as poison")
                continue
            # the full pure-Python chain, no native lowering
            want = evaluate_document(self.compiled, html)
            chk.expect(x == want and err is None,
                       f"doc {url}: Spark row differs from driver-side evaluation")
        return chk


class HeavyWarc(_Extraction):
    name = "extract_heavy_warc"
    rules = NARROW_RULES
    sample_size = 6

    def pages(self):
        return read_warc(self.spark, self.source()).select("url", "html")

    def load(self) -> None:
        self.compiled = RuleCompiler().compile(self.rules)
        self.spark.read.format("binaryFile").load(self.shape["data"]).schema


class JobResume(_Extraction):
    name = "extract_job_resume"
    RUN_TAG = "plans.run"
    RESUME_TAG = "plans.resume"

    def _job(self, out: str) -> ExtractJob:
        return ExtractJob(self.spark, self.rules, out, buckets=JOB_BUCKETS)

    def run(self, out: str) -> None:
        self._job(out).run(self.pages(), resume=True)

    def crash(self, out: str) -> None:
        """Lose the committed metrics rows of every CRASH_EVERY-th
        bucket: those buckets count as never finished."""
        job = self._job(out)
        kept = (self.spark.read.parquet(job.metrics_dir)
                .where(F.col("bucket") % CRASH_EVERY != 0))
        tmp = job.metrics_dir + ".kept"
        kept.write.parquet(tmp)
        shutil.rmtree(job.metrics_dir)
        os.rename(tmp, job.metrics_dir)

    def resume(self, out: str) -> dict:
        return self._job(out).run(self.pages(), resume=True)

    def data_dir(self, out: str) -> str:
        return os.path.join(out, "data")

    def layer_metrics(self, out: str, resume_result) -> dict[str, float]:
        return {
            "plans.files_written": len(_parts(self.data_dir(out))),
            "plans.resume_buckets_redone": (
                resume_result["buckets_total"]
                - resume_result["buckets_skipped_by_resume"]),
        }

    def check(self, out: str, seed: int) -> Check:
        chk = super().check(out, seed)
        docs_in = sum(_read(os.path.join(out, "metrics"), ["docs_in"])["docs_in"])
        chk.expect(docs_in == self.shape["docs"],
                   f"metrics docs_in sum {docs_in} != input docs "
                   f"{self.shape['docs']}")
        return chk


class CurateNearDup(_Workload):
    """Main content → quality columns → exact dedup → n-gram Jaccard
    pairs and MinHash-LSH pairs over the exact-dedup survivors."""

    name = "curate_near_dup"
    RUN_TAG = "ops.maincontent"

    def load(self) -> None:
        self.pages().schema

    # one materialized call per stage; the traced run tags each
    def stage_maincontent(self, out: str, pages=None, mode="overwrite") -> None:
        extract_main_content(pages if pages is not None else self.pages()) \
            .write.mode(mode).parquet(f"{out}/maincontent")

    def _texts(self, out: str):
        return (self.spark.read.parquet(f"{out}/maincontent")
                .where(F.col("error").isNull())
                .select(F.col("url").alias("doc_id"),
                        F.col("main_text").alias("text")))

    def stage_quality(self, out: str) -> None:
        t = self._texts(out)
        t.select("doc_id", textstats.token_count("text").alias("tokens"),
                 textstats.quality_score("text").alias("quality"),
                 textstats.lang_id("text").alias("lang")) \
            .write.mode("overwrite").parquet(f"{out}/quality")

    def stage_exact(self, out: str) -> None:
        dedup.exact_dedup(self._texts(out)).write.mode("overwrite") \
            .parquet(f"{out}/exact")

    def _survivors(self, out: str):
        return self.spark.read.parquet(f"{out}/exact")

    def stage_ngram(self, out: str) -> None:
        dedup.ngram_jaccard_pairs(self._survivors(out),
                                  threshold=NEAR_DUP_THRESHOLD) \
            .write.mode("overwrite").parquet(f"{out}/ngram")

    def stage_minhash(self, out: str) -> None:
        dedup.minhash_lsh_dedup(self._survivors(out),
                                threshold=NEAR_DUP_THRESHOLD) \
            .write.mode("overwrite").parquet(f"{out}/minhash")

    # The crash hits the main-content stage, the only per-document one:
    # ``run`` is that stage, ``resume`` completes it from its committed
    # part files, and the dedup stages then run on the result.
    AFTER = (("ops.quality", "stage_quality"),
             ("ops.exact_dedup", "stage_exact"),
             ("ops.ngram_jaccard", "stage_ngram"),
             ("ops.minhash_lsh", "stage_minhash"))

    def run(self, out: str) -> None:
        self.stage_maincontent(out)

    def crash(self, out: str) -> None:
        _crash_parts(f"{out}/maincontent")

    def resume(self, out: str) -> None:
        done = self.spark.read.parquet(f"{out}/maincontent").select("url")
        todo = self.pages().join(done, on="url", how="left_anti")
        self.stage_maincontent(out, _spread(todo), mode="append")

    def data_dir(self, out: str) -> str:
        return f"{out}/maincontent"

    def layer_metrics(self, out: str, resume_result) -> dict[str, float]:
        return {"ops.minhash_lsh_recall": self.recall}

    def check(self, out: str, seed: int) -> Check:
        chk = Check()
        docs = self.shape["docs"]
        mc = _read(f"{out}/maincontent", ["url", "main_text", "error"])
        chk.expect(len(mc["url"]) == docs == len(set(mc["url"])),
                   f"main content rows {len(mc['url'])} (distinct "
                   f"{len(set(mc['url']))}) != input docs {docs}",
                   abs(len(mc["url"]) - docs) or 1)
        errs = sum(e is not None for e in mc["error"])
        chk.expect(errs == 0, f"{errs} main-content error rows", errs)
        text = dict(zip(mc["url"], mc["main_text"]))
        groups = self.shape["dup_groups"]
        exact = _read(f"{out}/exact", ["doc_id"])["doc_id"]
        want_rows = docs - sum(len(g) - 1 for g in groups)
        chk.expect(len(exact) == want_rows,
                   f"exact dedup kept {len(exact)} rows, planted {want_rows}",
                   abs(len(exact) - want_rows))
        kept = set(exact)
        for g in groups:
            chk.expect(kept & set(g) == {min(g)},
                       f"exact-dup group {min(g)} did not collapse to its min id")
        planted = {tuple(sorted(p)) for p in self.shape["near_pairs"]}
        ng = _read(f"{out}/ngram", ["doc_a", "doc_b", "jaccard"])
        got = {(a, b): j for a, b, j in zip(ng["doc_a"], ng["doc_b"], ng["jaccard"])}
        chk.expect(set(got) == planted,
                   f"ngram pairs: {len(set(got) - planted)} unplanted, "
                   f"{len(planted - set(got))} planted missed",
                   len(set(got) ^ planted))
        for (a, b), j in got.items():
            chk.expect(math.isclose(j, jaccard(text[a], text[b]), abs_tol=2e-6),
                       f"ngram jaccard of ({a}, {b}) differs from recomputation")
        mh = _read(f"{out}/minhash", ["doc_a", "doc_b"])
        mh_pairs = set(zip(mh["doc_a"], mh["doc_b"]))
        for a, b in mh_pairs:
            chk.expect(jaccard(text[a], text[b]) >= NEAR_DUP_THRESHOLD - 1e-6,
                       f"minhash pair ({a}, {b}) below threshold")
        self.recall = len(mh_pairs & planted) / len(planted) if planted else 1.0
        return chk


WORKLOADS = {w.name: w for w in (HeavyWarc, JobResume, CurateNearDup)}

