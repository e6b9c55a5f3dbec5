"""The three workloads. Each has a one-time ``prepare`` (input generation),
``run_pass`` (one round of its timed phases, also
used untimed as the warm-up), ``verify`` (full output checks) and
``layer_metrics`` (per-layer figures from a traced session)."""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext

from pyspark.sql import functions as F

from pdf_parser_benchmark_spark.plans.pipeline import extract_pages, run_pipeline
from pdf_parser_benchmark_spark.sources.warc import read_warc_pages

from . import checks, inputs
from .trace import DECODE_NODE, EXTRACT_NODE, EventLog, Tracer, pipeline_metrics


def _digest(df):
    """(rows, rows with an error, xor of xxhash64(canonical)): an
    order-independent fingerprint of an extraction output."""
    r = df.agg(
        F.count("*"), F.count("error"), F.bit_xor(F.xxhash64("canonical"))
    ).collect()[0]
    return r[0], r[1], r[2]


def _span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer else nullcontext()


def _files(root: str, suffix: str) -> list[str]:
    return [
        os.path.join(d, f) for d, _s, fs in os.walk(root) for f in fs if f.endswith(suffix)
    ]


class Workload:
    """Input set-up shared by the workloads: the pages table as parquet and
    the generator's ground truth, kept in memory for the checks."""

    N_FILES = 16

    def __init__(self, n_docs: int, data_dir: str):
        self.n_docs = n_docs
        self.pages_dir = os.path.join(data_dir, "pages")

    def prepare(self, spark, rows: list[dict], truth: dict[str, dict]) -> dict:
        """Write the inputs; returns their make-up."""
        self.truth = truth
        files = inputs.write_pages(rows, truth, self.pages_dir, self.N_FILES)
        return {
            "rows": len(rows),
            "row_ids": [min(t["row_id"] for t in truth.values()), max(t["row_id"] for t in truth.values())],
            "payload_bytes": sum(len(r["html"]) for r in rows),
            "parquet_files": len(files),
            "parquet_bytes": sum(os.path.getsize(p) for p in files),
            "partitions": spark.read.parquet(self.pages_dir).rdd.getNumPartitions(),
            "class_mix": self.class_counts(),
        }

    def class_counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for t in self.truth.values():
            out[t["doc_class"]] = out.get(t["doc_class"], 0) + 1
        return out


class ExtractWorkload(Workload):
    """html_extract / pdf_extract: pages table from parquet → extract_pages,
    forced by a digest aggregate (no write)."""

    def run_pass(self, spark, tracer: Tracer | None = None) -> dict:
        t0 = time.perf_counter()
        with _span(tracer, "plans.extract_pages"):
            digest = _digest(extract_pages(spark.read.parquet(self.pages_dir)))
        dt = time.perf_counter() - t0
        bad = [] if digest[0] == self.n_docs else [f"pass extracted {digest[0]} docs, expected {self.n_docs}"]
        return {
            "docs": self.n_docs,
            "doc_errors": digest[1],
            "phases": 1,
            "digest": digest,
            "bad": bad,
            "wall_s": dt,
            "docs_per_s": [digest[0] / dt],
        }

    def verify(self, spark, passes: list[dict]) -> list[str]:
        """Full checks of one more extraction; every timed pass must have
        produced the same output (same digest)."""
        rows = (
            extract_pages(spark.read.parquet(self.pages_dir))
            .select("url", "text", "canonical", "error", F.xxhash64("canonical").alias("h"))
            .collect()
        )
        errors, bad = checks.check_docs(
            ((r["url"], r["text"], r["canonical"], r["error"]) for r in rows), self.truth
        )
        x = 0
        for r in rows:
            x ^= r["h"] or 0
        digest = (len(rows), errors, x)
        bad += [f"timed pass output differs: {p['digest']} vs {digest}" for p in passes if p["digest"] != digest]
        return bad

    def layer_metrics(self, log: EventLog, tracer: Tracer, slots: int) -> dict:
        name = "plans.extract_pages"
        return pipeline_metrics(
            log, tracer.under(name), tracer.seconds(name), slots, len(tracer.named(name))
        )


class WarcResumeWorkload(Workload):
    """Natural mix packed as .warc.gz → run_pipeline with a parquet sink:
    an uninterrupted job, a job that crashes after half its commit batches
    and is resumed, and no-op reruns over the complete manifest."""

    N_FILES = 4
    N_SPLITS = 16
    COMMIT_BATCHES = 2
    RERUNS = 3  # a rerun takes ~0.4 s; three per round steady its median

    def __init__(self, n_docs: int, data_dir: str):
        super().__init__(n_docs, data_dir)
        self.warc_dir = os.path.join(data_dir, "warc")
        self.out = {k: os.path.join(data_dir, k) for k in ("full", "full_manifest", "crash", "crash_manifest")}

    def prepare(self, spark, rows: list[dict], truth: dict[str, dict]) -> dict:
        makeup = super().prepare(spark, rows, truth)
        files = inputs.write_warc(rows, self.warc_dir, self.N_FILES)
        self.warc_bytes = sum(os.path.getsize(p) for p in files)
        return {**makeup, "warc_files": len(files), "warc_bytes": self.warc_bytes,
                "n_splits": self.N_SPLITS, "commit_batches": self.COMMIT_BATCHES}

    def _job(self, spark, tracer, label: str, out: str, **kw) -> tuple[dict, float]:
        t0 = time.perf_counter()
        pages = read_warc_pages(spark, self.warc_dir)
        with _span(tracer, f"plans.run_pipeline.{label}"):
            r = run_pipeline(spark, pages, self.out[out], self.out[out + "_manifest"],
                             n_splits=self.N_SPLITS, commit_batches=self.COMMIT_BATCHES, **kw)
        return r, time.perf_counter() - t0

    def run_pass(self, spark, tracer: Tracer | None = None) -> dict:
        for path in self.out.values():
            shutil.rmtree(path, ignore_errors=True)
        t0 = time.perf_counter()
        n = self.n_docs
        full, full_s = self._job(spark, tracer, "full", "full")
        crash, _ = self._job(spark, tracer, "crash", "crash",
                             fail_after_batches=self.COMMIT_BATCHES // 2)
        resumed, resume_s = self._job(spark, tracer, "resume", "crash")
        before = checks.snapshot(self.out["full"])
        reruns = [self._job(spark, tracer, "rerun", "full") for _ in range(self.RERUNS)]
        bad = []
        if full["docs"] != n:
            bad.append(f"uninterrupted job committed {full['docs']} docs, expected {n}")
        if crash["docs"] + resumed["docs"] != n:
            bad.append(f"crash + resume committed {crash['docs']} + {resumed['docs']} docs, expected {n}")
        if any(r["docs"] != 0 for r, _s in reruns):
            bad.append(f"rerun extracted {[r['docs'] for r, _s in reruns]} docs, expected 0")
        if checks.snapshot(self.out["full"]) != before:
            bad.append("rerun changed the output files")
        self.crash_docs = crash["docs"]
        return {
            "docs": 2 * n,
            "doc_errors": (full["errors"] or 0) + (crash["errors"] or 0) + (resumed["errors"] or 0),
            "phases": 2 + self.RERUNS,
            "bad": bad,
            "wall_s": time.perf_counter() - t0,
            "docs_per_s": [full["docs"] / full_s],
            "resume_s": [resume_s],
            "rerun_s": [t for _r, t in reruns],
        }

    def verify(self, spark, passes: list[dict]) -> list[str]:
        """Checks of the last pass's outputs: documents against the ground
        truth, uninterrupted == crashed-then-resumed == extract_pages over
        the same rows from parquet, and both manifests."""
        full = spark.read.parquet(self.out["full"]).select("url", "text", "canonical", "error").collect()
        _errors, bad = checks.check_docs(
            ((r["url"], r["text"], r["canonical"], r["error"]) for r in full), self.truth
        )
        fp_full = checks.fingerprints((r["url"], r["canonical"]) for r in full)
        fp_resumed = checks.fingerprints(
            spark.read.parquet(self.out["crash"]).select("url", "canonical").collect()
        )
        fp_direct = checks.fingerprints(
            extract_pages(spark.read.parquet(self.pages_dir)).select("url", "canonical").collect()
        )
        if fp_resumed != fp_full:
            bad.append(f"resumed output differs from uninterrupted in {len(fp_resumed ^ fp_full)} (url, md5) pairs")
        if fp_direct != fp_full:
            bad.append(f"WARC output differs from extract_pages over parquet in {len(fp_direct ^ fp_full)} pairs")
        urls = spark.createDataFrame([(u,) for u in self.truth], "url string")
        expected = {
            r[0] for r in urls.select(F.pmod(F.xxhash64("url"), F.lit(self.N_SPLITS))).distinct().collect()
        }
        for key in ("full_manifest", "crash_manifest"):
            rows = spark.read.parquet(self.out[key]).select(
                "split_id", "status", "rows_out", "n_splits", "commit_seq"
            ).collect()
            bad += [f"{key}: {b}" for b in checks.check_manifest(rows, self.N_SPLITS, expected, self.n_docs)]
        return bad

    def layer_metrics(self, log: EventLog, tracer: Tracer, slots: int) -> dict:
        full, resume, rerun = (tracer.under(f"plans.run_pipeline.{p}") for p in ("full", "resume", "rerun"))
        reps = len(tracer.named("plans.run_pipeline.full"))
        m = pipeline_metrics(log, full, tracer.seconds("plans.run_pipeline.full"), slots, reps)

        decoded = log.node_metric(full, DECODE_NODE, "number of output rows")
        decoded_resume = log.node_metric(resume, DECODE_NODE, "number of output rows")
        m["warc.records_decoded"] = decoded / reps
        m["warc.decode_amplification"] = decoded / (reps * self.n_docs)
        m["warc.decode_amplification.resume"] = decoded_resume / (reps * (self.n_docs - self.crash_docs))
        decode_s = [s["end"] - s["start"] for s in tracer.named("sources.read_warc_pages")]
        m["warc.decode_s"] = statistics.median(decode_s)
        m["warc.mb_per_s"] = self.warc_bytes / 1e6 / m["warc.decode_s"]

        writes = tracer.under("sink.write_extracted") & full
        heavy = {t["stage"] for t in log.node_tasks(writes, EXTRACT_NODE)}
        heavy |= {t["stage"] for t in log.node_tasks(writes, DECODE_NODE)}
        m["sink.write_s"] = (tracer.seconds("sink.write_extracted", full) - log.stage_seconds(heavy)) / reps
        parts = _files(self.out["full"], ".parquet")
        m["sink.files_written"] = len(parts)
        m["sink.bytes_written"] = sum(os.path.getsize(p) for p in parts)
        m["sink.shuffle_bytes"] = sum(t["shuffle_write"] for t in log.tasks_in(writes)) / reps

        reads = [s["end"] - s["start"] for s in tracer.named("checkpoint.filter_resumable")
                 if s["id"] in resume | rerun]
        m["checkpoint.manifest_read_s"] = statistics.mean(reads)
        m["checkpoint.mark_s"] = tracer.seconds("checkpoint.mark_splits_complete", full) / reps
        m["checkpoint.manifest_files"] = len(_files(self.out["full_manifest"], ".parquet"))
        redone = log.node_metric(resume, EXTRACT_NODE, "number of output rows")
        m["checkpoint.docs_redone"] = redone / reps - (self.n_docs - self.crash_docs)
        m["lineage.s"] = tracer.seconds("lineage.lineage_counters", full) / reps
        return m

    def decode_passes(self, spark, tracer: Tracer, n: int = 3) -> None:
        """Time read_warc_pages alone: n passes forced by an aggregate."""
        for _ in range(n):
            with tracer.span("sources.read_warc_pages"):
                read_warc_pages(spark, self.warc_dir).agg(F.count("*"), F.sum(F.length("html"))).collect()
