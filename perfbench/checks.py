"""Output checks made apart from the extractor: against the generator's
ground truth, the canonical JSON contract, and the resume protocol's
promises. The ``check_*`` functions return failure messages (none when
the check holds)."""

from __future__ import annotations

import hashlib
import json
import os

HTML_CHROME = ("weekly digest", "all rights reserved", "subscribe", "Related Posts")
# running header "Handbook h<id> — …" and footer "page footer <n>" of every
# generated PDF page; the line-frequency boilerplate rule must drop both
PDF_CHROME = ("Handbook h", "page footer")


def check_doc(url: str, text: str, canonical: str, truth: dict) -> list[str]:
    """One extracted document that has no error."""
    bad: list[str] = []
    is_html = truth["doc_class"] == "html"
    pos = 0
    for line in truth["truth"].split("\n"):
        line = line.strip()
        if not line:
            continue
        at = text.find(line, pos if is_html else 0)
        if at < 0:
            where = "in order " if is_html else ""
            bad.append(f"{url}: ground-truth line missing {where}{line[:60]!r}")
            break
        if is_html:
            pos = at + len(line)
    for chrome in HTML_CHROME if is_html else PDF_CHROME:
        if chrome in text:
            bad.append(f"{url}: chrome {chrome!r} in text")
    try:
        rec = json.loads(canonical)
    except (TypeError, ValueError) as e:
        return bad + [f"{url}: canonical is not JSON ({e})"]
    if rec.get("url") != url or rec.get("text") != text:
        bad.append(f"{url}: canonical url/text differ from the row")
    for s in rec.get("spans", []):
        if not 0 <= s["start"] <= s["end"] <= len(text):
            bad.append(f"{url}: span {s['start']}..{s['end']} outside text")
            break
    return bad


def check_docs(rows, truth: dict[str, dict]) -> tuple[int, list[str]]:
    """rows: iterable of (url, text, canonical, error). Returns (documents
    with an error, failures). Every input url must appear exactly once;
    documents with an error are counted, not checked further."""
    bad: list[str] = []
    seen: set[str] = set()
    errors = 0
    for url, text, canonical, error in rows:
        if url in seen:
            bad.append(f"{url}: appears more than once")
            continue
        seen.add(url)
        if url not in truth:
            bad.append(f"{url}: not an input url")
            continue
        if error is not None:
            errors += 1
            continue
        bad.extend(check_doc(url, text, canonical, truth[url]))
    missing = len(truth) - len(seen & truth.keys())
    if missing:
        bad.append(f"{missing} input urls missing from the output")
    return errors, bad


def fingerprints(rows) -> set[tuple[str, str]]:
    """(url, md5 of canonical) per row of (url, canonical)."""
    return {
        (url, hashlib.md5((canonical or "").encode("utf-8")).hexdigest())
        for url, canonical in rows
    }


def check_manifest(manifest_rows, n_splits: int, expected_splits: set[int], n_docs: int) -> list[str]:
    """manifest_rows: (split_id, status, rows_out, n_splits, commit_seq).
    Every non-empty split is marked complete, and the latest rows_out per
    split sums to the document count."""
    latest: dict[int, tuple[int, int]] = {}
    for split_id, status, rows_out, ns, seq in manifest_rows:
        if status != "complete" or ns != n_splits:
            continue
        if split_id not in latest or seq > latest[split_id][0]:
            latest[split_id] = (seq, rows_out)
    bad = []
    unmarked = expected_splits - latest.keys()
    if unmarked:
        bad.append(f"manifest misses {len(unmarked)} non-empty splits")
    total = sum(rows_out for _seq, rows_out in latest.values())
    if total != n_docs:
        bad.append(f"manifest rows_out sums to {total}, expected {n_docs}")
    return bad


def snapshot(root: str) -> dict[str, tuple[int, int]]:
    """relpath → (size, mtime_ns) of every file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out
