"""Single-process timings of the extraction layers over a fixed sample of
the seed's rows, in the benchmark's own process (no Spark): the parser,
chunking/assembly and canonical encoding costs per document, each timed
apart from the others."""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

import pdf_parser_benchmark_spark.extract.assemble as assemble_mod
from pdf_parser_benchmark_spark.canonical import encode_doc
from pdf_parser_benchmark_spark.extract.html_extractor import extract_main_blocks
from pdf_parser_benchmark_spark.extract.pdf_parser import parse_pdf
from pdf_parser_benchmark_spark.synth import pages as gen

from . import inputs

N_HTML = 200
N_PER_PDF_CLASS = 8
PASSES = 5


def sample_rows(seed: int) -> dict[str, list[dict]]:
    """doc class → rows: the first N_HTML HTML rows and N_PER_PDF_CLASS
    rows of each PDF class in the seed's window."""
    want = {"html": N_HTML, **{c: N_PER_PDF_CLASS for c in inputs.PDF_CLASSES}}
    out: dict[str, list[dict]] = {c: [] for c in want}
    row_id = inputs.window_start(seed)
    while any(want.values()):
        cls = gen.doc_class(row_id)
        if want[cls]:
            want[cls] -= 1
            out[cls].append(gen.gen_row(row_id))
        row_id += 1
    return out


def _median_pass_s(fn, items) -> float:
    """Median over PASSES of the seconds one pass of fn over items takes."""
    times = []
    for _ in range(PASSES):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


@contextmanager
def _parsed_blocks(blocks_of: dict[str, list]):
    """Make html_to_chunks look up precomputed parser output, so timing it
    leaves the parser out."""
    saved = assemble_mod.extract_main_blocks
    assemble_mod.extract_main_blocks = blocks_of.__getitem__
    try:
        yield
    finally:
        assemble_mod.extract_main_blocks = saved


def layer_metrics(seed: int, class_counts: dict[str, int]) -> dict[str, float]:
    """Per-layer timings. ``class_counts`` is the workload's input make-up
    (doc class → rows); assembly and canonical encoding are averaged over
    it, the parsers over their own format."""
    rows = sample_rows(seed)
    m: dict[str, float] = {}

    htmls = [assemble_mod.decode_html_payload(r["html"]) for r in rows["html"]]
    blocks_of = {h: extract_main_blocks(h) for h in htmls}
    m["html_extractor.ms_per_doc"] = 1000 * _median_pass_s(extract_main_blocks, htmls) / len(htmls)
    m["html_extractor.blocks_per_doc"] = statistics.mean(len(b) for b in blocks_of.values())

    per_class: dict[str, dict[str, float]] = {}
    with _parsed_blocks(blocks_of):
        chunks = [(r["url"], assemble_mod.html_to_chunks(h)) for r, h in zip(rows["html"], htmls)]
        chunk_s = _median_pass_s(assemble_mod.html_to_chunks, htmls)
    per_class["html"] = _assemble_and_encode(chunks, "html", chunk_s)

    pdf_ms_doc = pdf_pages_per_doc = 0.0
    for cls in inputs.PDF_CLASSES:
        payloads = [r["html"] for r in rows[cls]]
        parsed = [parse_pdf(p) for p in payloads]
        ms_doc = 1000 * _median_pass_s(parse_pdf, payloads) / len(payloads)
        pages_per_doc = statistics.mean(len(p) for p in parsed)
        m[f"pdf_parser.ms_per_doc.{cls[4:]}"] = ms_doc
        share = inputs.pdf_quotas(10_000)[cls] / 10_000
        pdf_ms_doc += share * ms_doc
        pdf_pages_per_doc += share * pages_per_doc
        chunk_s = _median_pass_s(assemble_mod.pdf_pages_to_chunks, parsed)
        chunks = [(r["url"], assemble_mod.pdf_pages_to_chunks(p)) for r, p in zip(rows[cls], parsed)]
        per_class[cls] = _assemble_and_encode(chunks, "pdf", chunk_s)
    m["pdf_parser.ms_per_doc"] = pdf_ms_doc
    m["pdf_parser.ms_per_page"] = pdf_ms_doc / pdf_pages_per_doc

    total = sum(class_counts.values())
    for key in ("assemble.ms_per_doc", "canonical.ms_per_doc", "canonical.bytes_per_doc"):
        m[key] = sum(per_class[c][key] * n / total for c, n in class_counts.items())
    return m


def _assemble_and_encode(chunks: list, parser: str, chunk_s: float) -> dict[str, float]:
    """Chunking (given its measured seconds) + assemble + encode_doc, per
    document of one class."""
    n = len(chunks)
    assemble_s = _median_pass_s(lambda uc: assemble_mod.assemble(uc[0], uc[1], parser), chunks)
    recs = [assemble_mod.assemble(u, c, parser) for u, c in chunks]
    encode_s = _median_pass_s(lambda r: encode_doc(r["url"], r["text"], r["spans"], r["meta"]), recs)
    sizes = [len(encode_doc(r["url"], r["text"], r["spans"], r["meta"]).encode("utf-8")) for r in recs]
    return {
        "assemble.ms_per_doc": 1000 * (chunk_s + assemble_s) / n,
        "canonical.ms_per_doc": 1000 * encode_s / n,
        "canonical.bytes_per_doc": statistics.mean(sizes),
    }
