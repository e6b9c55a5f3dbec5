"""Benchmark inputs: which generator rows a seed selects, how they are
written (parquet pages table or per-record-gzip WARC files), and the
generator's ground truth that the checks compare the extractor against.

A seed selects one of N_WINDOWS windows of generator row ids, the one
starting at ``(seed mod N_WINDOWS) * WINDOW`` (``window_start``); each
workload takes the first rows of that window that fit its make-up
(``select``). Row content is a pure function of the row id
(``synth.pages.gen_row``), so the same seed gives the same bytes on every
run and at any parallelism.
"""

from __future__ import annotations

import os

from pdf_parser_benchmark_spark.synth import pages as gen
from pdf_parser_benchmark_spark.synth.warc_writer import build_warc

WINDOW = 1_000_000  # row ids per seed
# The generator stamps row i at EPOCH (2026) + i seconds, and the Arrow
# channel of extract_pages converts timestamps to pandas nanoseconds,
# which end in the year 2262 (row ids past ~7.4e9 fail). Any seed, however
# large or negative, is folded onto one of these windows; the last ends
# in the year 2184.
N_WINDOWS = 5_000


def window_start(seed: int) -> int:
    """First generator row id of ``seed``'s window."""
    return seed % N_WINDOWS * WINDOW

PDF_CLASSES = ("pdf-plain", "pdf-objstm", "pdf-rc4", "pdf-aes", "pdf-r6")

# Natural share of each PDF class in the generator (synth.pages._pdf_layout):
# a quarter use object streams; of the classic-layout rest, 4/32 are RC4,
# 4/32 AES-128, 1/32 AES-256 R6 and 23/32 plain. pdf_extract fixes the
# count per class at these shares so the class mix does not vary by seed.
PDF_SHARES = {
    "pdf-objstm": 1 / 4,
    "pdf-rc4": 3 / 4 * 4 / 32,
    "pdf-aes": 3 / 4 * 4 / 32,
    "pdf-r6": 3 / 4 * 1 / 32,
}


def pdf_quotas(n: int) -> dict[str, int]:
    quotas = {c: round(n * s) for c, s in PDF_SHARES.items()}
    quotas["pdf-plain"] = n - sum(quotas.values())
    return quotas


def select(seed: int, workload: str, n: int) -> tuple[list[dict], dict[str, dict]]:
    """The rows of ``workload``'s input for ``seed`` and their ground truth
    (url → {row_id, doc_class, truth}): html_extract takes the first ``n``
    HTML rows of the window, pdf_extract the first rows of each PDF class
    up to its quota, warc_resume the first ``n`` rows (the natural mix,
    ~10% PDF).

    PDF rows whose ground truth repeats a line are left out: the extractor's
    line-frequency boilerplate rule drops a line found on more than 40% of
    a document's pages, so such a row fails the ground-truth check on the
    seeds that happen to hold one."""
    start = window_start(seed)
    if workload == "html_extract":
        want = {"html": n}
    elif workload == "pdf_extract":
        want = pdf_quotas(n)
    else:
        want = {c: n for c in ("html", *PDF_CLASSES)}
    rows, truth = [], {}
    for row_id in range(start, start + WINDOW):
        cls = gen.doc_class(row_id)
        if want.get(cls, 0) <= 0:
            continue
        row, text = row_with_truth(row_id)
        lines = [ln for ln in text.split("\n") if ln.strip()]
        if cls != "html" and len(set(lines)) < len(lines):
            continue
        want[cls] -= 1
        rows.append(row)
        truth[row["url"]] = {"row_id": row_id, "doc_class": cls, "truth": text}
        if len(rows) == n:
            return rows, truth
    raise ValueError(f"window of seed {seed} is too small for {n} rows")


def row_with_truth(row_id: int) -> tuple[dict, str]:
    """(pages row, ground-truth text). The generator's raw text layer is
    its ground truth; ``gen_row`` hides it for a quarter of rows, so those
    are rebuilt from the per-format builder."""
    row = gen.gen_row(row_id)
    truth = row["text"]
    if truth is None:
        build = gen._pdf_doc if gen.is_pdf_row(row_id) else gen._html_page
        truth = build(row_id)[1]
    return row, truth


def write_pages(rows: list[dict], truth: dict[str, dict], pages_dir: str, n_files: int) -> list[str]:
    """The pages table as ``n_files`` parquet files. Rows are dealt to the
    files round-robin in (doc class, row id) order, so every file, and so
    every input split, has the same class mix whatever the seed: the
    slowest task of a pass does not depend on where the seed put its
    costliest documents. ``warc_ts`` is stored UTC-adjusted so Spark reads
    it as ``timestamp`` (the PAGES_SCHEMA type), not ``timestamp_ntz``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    os.makedirs(pages_dir)
    rows = sorted(rows, key=lambda r: (truth[r["url"]]["doc_class"], truth[r["url"]]["row_id"]))
    paths = []
    for i in range(n_files):
        chunk = rows[i::n_files]
        path = os.path.join(pages_dir, f"part-{i:04d}.parquet")
        pq.write_table(pa.Table.from_pylist(chunk, schema=schema), path)
        paths.append(path)
    return paths


def write_warc(rows: list[dict], warc_dir: str, n_files: int) -> list[str]:
    """Pack the rows as Common-Crawl-style ``.warc.gz`` files (one gzip
    member per record), in url order, split evenly over ``n_files``."""
    rows = sorted(rows, key=lambda r: r["url"])
    os.makedirs(warc_dir)
    per = -(-len(rows) // n_files)
    paths = []
    for i in range(n_files):
        path = os.path.join(warc_dir, f"part-{i:04d}.warc.gz")
        with open(path, "wb") as f:
            f.write(build_warc(rows[i * per : (i + 1) * per], gzip_members=True))
        paths.append(path)
    return paths
