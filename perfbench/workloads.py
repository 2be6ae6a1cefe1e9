"""Seeded input generators for the extraction benchmark's workloads.

Every generator is a pure function of ``(seed, n_docs)``: the same seed
writes byte-identical parquet files. The engine only ever sees the files.

* ``invoice_mix``  — the engine's own synthetic corpus
  (``ocr_spark.synth.write_synth``), unmodified; the seed picks the window
  of document indices, among windows that hold the corpus's own rate of
  ~100-page PDFs. Text/ocr/html/pdf/image spans, that tail of big PDFs,
  and heavy content repetition (templated variants).
* ``distinct_text`` — text/ocr/html spans only, no media table. Each span
  concatenates 1 to 16 corpus variants, and no variant text is used twice
  in one input, so every span's content is unique.
* ``media_staged`` — pdf/image-heavy documents where every eighth PDF is
  an oversized multi-page one, run with the page-split path and FIELDS
  staged through the manifest sink.
"""

from __future__ import annotations

import hashlib
import os
import statistics
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_spark import synth
from ocr_spark.corpus import variant_text
from ocr_spark.kernel import pdfdoc
from ocr_spark.kernel.assemble import IMAGE_MARKER
from ocr_spark.operators.extract import OVERSIZE_PAYLOAD_BYTES
from ocr_spark.synth import ARROW_DOCUMENTS, ARROW_MEDIA, write_synth

DOCS_PER_FILE = 2000


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    # oversized-PDF page split threshold (jobs/extract.py --page-split-bytes)
    page_split_bytes: int | None
    # FIELDS staged through the manifest sink (jobs/extract.py --fields-staging)
    staged: bool
    # documents whose outputs are compared with the pandas oracle per run
    n_check: int


WORKLOADS = {
    w.name: w
    for w in [
        Workload("invoice_mix", 2000, None, False, 60),
        Workload("distinct_text", 400, None, False, 12),
        Workload("media_staged", 500, OVERSIZE_PAYLOAD_BYTES, True, 24),
    ]
}


def _h(*parts) -> int:
    key = ":".join(str(p) for p in parts)
    return int.from_bytes(hashlib.sha256(key.encode()).digest()[:8], "big")


def _ocr_noise(text: str, salt: int) -> str:
    """OCR-style corruption: some long words break with a hyphen + newline."""
    words = text.split(" ")
    for i, w in enumerate(words):
        if len(w) > 7 and w.isalpha() and _h(salt, i) % 4 == 0:
            cut = 3 + _h(salt, i, "cut") % 3
            words[i] = w[:cut] + "-\n" + w[cut:]
    return " ".join(words)


def _html(text: str, title: str) -> str:
    # each line becomes a paragraph long enough to pass the extractor's
    # text-density gate; nav/footer are boilerplate it must drop
    paras = "\n".join(
        f"<p>{ln.strip()} and further prose so the paragraph reads as content.</p>"
        for ln in text.split("\n")
        if ln.strip()
    )
    return (
        f"<html><head><title>{title}</title><script>var t = 0;</script></head>"
        f"<body><nav><a href='/'>Home</a> <a href='/p'>Prices</a></nav>"
        f"<div id='main'>{paras}</div>"
        f"<footer><a href='/legal'>legal notice</a></footer></body></html>"
    )


def _pdf(text: str, pages: int, oversized: bool) -> bytes:
    lines = [ln.strip() for ln in text.split("\n") if ln.strip()] or ["(empty)"]
    per = -(-len(lines) // pages)
    page_runs = []
    for p in range(pages):
        # an oversized PDF repeats the full text on every page; a normal one
        # spreads its lines over its pages
        chunk = [f"page {p + 1}"] + (lines if oversized else lines[p * per : (p + 1) * per])
        runs, y = [], 800.0
        for ln in chunk:
            cut = ln.rfind(" ", 0, len(ln) // 2)
            if cut <= 0:
                runs.append((72.0, y, ln))
            else:  # right half first: the parser must restore reading order
                runs.append((300.0, y, ln[cut + 1 :]))
                runs.append((72.0, y, ln[:cut]))
            y -= 14.0
        page_runs.append(runs)
    return pdfdoc.build_payload(page_runs)


def _write(out_dir: str, docs: list[dict], media: list[dict] | None) -> None:
    os.makedirs(os.path.join(out_dir, "documents"), exist_ok=True)
    for part, off in enumerate(range(0, len(docs), DOCS_PER_FILE)):
        pq.write_table(
            pa.Table.from_pylist(docs[off : off + DOCS_PER_FILE], schema=ARROW_DOCUMENTS),
            os.path.join(out_dir, "documents", f"part-{part:05d}.parquet"),
        )
    if media is not None:
        os.makedirs(os.path.join(out_dir, "media"), exist_ok=True)
        pq.write_table(
            pa.Table.from_pylist(media, schema=ARROW_MEDIA),
            os.path.join(out_dir, "media", "part-00000.parquet"),
        )


def synth_oversized(start: int, n_docs: int) -> int:
    """Oversized PDF spans in synth documents ``start`` .. ``start + n_docs``,
    from the same hashes ``synth.gen_doc`` draws its spans from."""
    count = 0
    for i in range(start, start + n_docs):
        doc_id = f"doc-{i:08d}"
        for j in range(1 + synth._h(f"{doc_id}:n") % 8):
            salt = synth._h(f"{doc_id}:{j}")
            count += synth.KINDS[salt % len(synth.KINDS)] == "pdf" and salt % synth.OVERSIZE_EVERY == 0
    return count


def _synth_start(seed: int, n_docs: int) -> int:
    """First index of the synth window for ``seed``.

    The oversized PDFs dominate the corpus's cost. Over random windows of
    2,000 documents their count had a 14 % standard deviation (35 to 60),
    and docs/s followed it: measured on 4 cores, windows with 39-43 ran at
    152-160 docs/s, windows with 54-55 at 122-128. So the seed draws
    candidate starts until one holds the corpus's expected count: 4.5 spans
    per document, one in len(KINDS) a pdf, one pdf in OVERSIZE_EVERY
    oversized."""
    rate = synth.KINDS.count("pdf") / len(synth.KINDS) / synth.OVERSIZE_EVERY
    want = round(n_docs * 4.5 * rate)
    k = 0
    while True:
        start = _h("invoice_mix", seed, k) % 10**7
        if synth_oversized(start, n_docs) == want:
            return start
        k += 1


def _distinct_text(seed: int, n_docs: int) -> tuple[list[dict], None]:
    cursor = _h("distinct_text", seed) % 10**9
    used: set[str] = set()
    docs = []
    for i in range(n_docs):
        doc_id = f"dt-{i:07d}"
        spans = []
        for j in range(1 + _h(seed, doc_id, "n") % 8):
            salt = _h(seed, doc_id, j)
            pieces = []
            for _ in range(1 + salt % 16):
                # skip any variant text already used: variants of one base
                # fixture can coincide, and no content may repeat here
                while True:
                    text = variant_text(cursor)[1]
                    cursor += 1
                    if text not in used:
                        used.add(text)
                        pieces.append(text)
                        break
            text = "\n".join(pieces)
            kind = ("text", "ocr", "html")[salt % 3]
            if kind == "ocr":
                text = _ocr_noise(text, salt)
            elif kind == "html":
                text = _html(text, f"Statement {doc_id}/{j}")
            spans.append({"kind": kind, "text": text, "media_ref": "", "offset": j})
        docs.append({"doc_id": doc_id, "spans": spans})
    return docs, None


def _media_staged(seed: int, n_docs: int) -> tuple[list[dict], list[dict]]:
    start = _h("media_staged", seed) % 10**8
    docs, media = [], []
    n_pdf = 0
    for i in range(n_docs):
        doc_id = f"ms-{i:07d}"
        spans = []
        for j in range(1 + _h(seed, doc_id, "n") % 6):
            salt = _h(seed, doc_id, j)
            kind = ("pdf", "pdf", "pdf", "image", "image", "text")[salt % 6]
            text = variant_text(start + (salt >> 8) % 4096)[1]
            if kind == "text":
                spans.append({"kind": "text", "text": text, "media_ref": "", "offset": j})
                continue
            ref = f"media://{doc_id}/{j}"
            if kind == "pdf":
                # a fixed share, so every seed's input does as much work
                oversized = (n_pdf + seed) % 8 == 0
                n_pdf += 1
                # oversized: 96-104 pages, the engine's synth corpus's range
                pages = 96 + (salt >> 24) % 9 if oversized else 1 + (salt >> 24) % 3
                payload = _pdf(text, pages, oversized)
            else:
                payload = IMAGE_MARKER + text.encode("utf-8")
            media.append({"media_ref": ref, "payload": payload})
            spans.append({"kind": kind, "text": "", "media_ref": ref, "offset": j})
        docs.append({"doc_id": doc_id, "spans": spans})
    return docs, media


def generate(name: str, seed: int, out_dir: str, n_docs: int | None = None) -> dict:
    """Write workload ``name``'s input for ``seed`` under ``out_dir``.

    Returns ``{"docs": dir, "media": dir or None, "n_docs": n}``."""
    n = n_docs or WORKLOADS[name].n_docs
    if name == "invoice_mix":
        write_synth(out_dir, n, docs_per_file=DOCS_PER_FILE, start=_synth_start(seed, n))
    elif name == "distinct_text":
        _write(out_dir, *_distinct_text(seed, n))
    elif name == "media_staged":
        _write(out_dir, *_media_staged(seed, n))
    else:
        raise ValueError(f"unknown workload {name!r}")
    media = os.path.join(out_dir, "media")
    return {
        "docs": os.path.join(out_dir, "documents"),
        "media": media if os.path.isdir(media) else None,
        "n_docs": n,
    }


def read_rows(inp: dict) -> tuple[list[dict], dict[str, bytes]]:
    """Generated input back as (span rows with doc_id, media_ref → payload)."""
    docs = pq.read_table(inp["docs"]).to_pylist()
    rows = [{"doc_id": d["doc_id"], **s} for d in docs for s in d["spans"]]
    payloads = {}
    if inp["media"]:
        for m in pq.read_table(inp["media"]).to_pylist():
            payloads[m["media_ref"]] = m["payload"]
    return rows, payloads


def input_shape(rows: list[dict], payloads: dict[str, bytes]) -> dict:
    """Shape of a generated input, from the raw rows (no kernel call):
    spans and raw chars (payload bytes for media) per kind, payload bytes
    median/max, and the share of distinct raw span contents."""
    spans: dict[str, int] = {}
    chars: dict[str, int] = {}
    keys = set()
    for r in rows:
        k = r["kind"]
        body = payloads.get(r["media_ref"]) if k in ("pdf", "image") else r["text"]
        body = body or ""
        spans[k] = spans.get(k, 0) + 1
        chars[k] = chars.get(k, 0) + len(body)
        keys.add((k, hashlib.sha256(body if isinstance(body, bytes) else body.encode()).digest()))
    sizes = [len(p) for p in payloads.values() if p is not None]
    return {
        "docs": len({r["doc_id"] for r in rows}),
        "spans": spans,
        "chars": chars,
        "payload_bytes_median": statistics.median(sizes) if sizes else 0,
        "payload_bytes_max": max(sizes) if sizes else 0,
        "distinct_raw_content_ratio": round(len(keys) / len(rows), 6) if rows else 0.0,
    }
