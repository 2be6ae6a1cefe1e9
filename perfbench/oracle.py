"""Output oracle independent of the Spark dataflow.

Expected ``extracted_spans`` and ``invoices`` rows for a document come from
the pure-pandas kernel (``assemble.resolve_batch`` → ``fields_batch`` →
``spans_from_fields``) run on the generated rows, plus a plain-Python
restatement of the invoices projection. PDFs resolve from their whole
payload here, never through the page split.
"""

from __future__ import annotations

import hashlib
from datetime import date
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd

from ocr_spark.corpus import COMPANIES, SUPPLIERS
from ocr_spark.kernel import assemble

INVOICE_COLUMNS = [
    "invoice_id", "doc_id", "invoice_number", "invoice_date", "due_date",
    "currency_code", "supplier_name", "company_erp_code", "excluding_taxes",
    "taxes", "including_taxes", "amount_due", "confidence", "payment_state",
    "completed", "draft", "state_validations", "document_urls", "line_items",
]


def _money(s: str | None) -> Decimal | None:
    return None if s is None else Decimal(s).quantize(Decimal("0.01"), ROUND_HALF_UP)


def _day(s: str | None) -> date | None:
    return None if s is None else date.fromisoformat(s)


def _first(row: tuple) -> str:
    return row[0]  # invoice_id, unique per row


def expected(rows: list[dict], payloads: dict[str, bytes]) -> dict[str, tuple]:
    """Span rows of some documents → {doc_id: (spans, invoice rows)}.

    ``spans`` is the extracted_spans list of (kind, text, media_ref, offset);
    invoice rows are tuples in INVOICE_COLUMNS order, sorted."""
    batch = pd.DataFrame.from_records(
        [{**r, "payload": payloads.get(r["media_ref"]) if r["media_ref"] else None} for r in rows],
        columns=["doc_id", "kind", "text", "media_ref", "offset", "payload"],
    )
    fields = assemble.fields_batch(
        assemble.resolve_batch(batch), companies=COMPANIES, suppliers=SUPPLIERS,
        emit_raw_text=False,
    )
    spans = assemble.spans_from_fields(fields).sort_values(["doc_id", "offset", "seq"])
    out: dict[str, tuple] = {d: ([], []) for d in batch["doc_id"]}
    for doc_id, kind, text, ref, offset in zip(
        spans["doc_id"], spans["kind"], spans["text"], spans["media_ref"], spans["offset"]
    ):
        out[doc_id][0].append((kind, text, ref, int(offset)))
    for f in fields.to_dict("records"):
        out[f["doc_id"]][1].append((
            hashlib.sha256(f"{f['doc_id']}|{f['offset']}".encode()).hexdigest(),
            f["doc_id"],
            f["invoice_number"],
            _day(f["invoice_date"]),
            _day(f["due_date"]),
            f["currency"],
            f["supplier_name"],
            f["company_erp_code"],
            _money(f["total_ht"]),
            _money(f["tva"]),
            _money(f["total_ttc"]),
            _money(f["amount_due"]),
            f["confidence"],
            "DRAFT",
            False,
            True,
            (),
            (f["doc_id"],),
            f["line_items"],
        ))
    return {d: (spans_, sorted(inv, key=_first)) for d, (spans_, inv) in out.items()}


def actual(span_rows, invoice_rows) -> dict[str, tuple]:
    """Collected Spark rows (extracted_spans, invoices) → the same shape as
    :func:`expected`."""
    out: dict[str, tuple] = {}
    for r in span_rows:
        spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        out.setdefault(r["doc_id"], ([], []))[0].extend(spans)
    for r in invoice_rows:
        row = tuple(
            tuple(r[c]) if c in ("state_validations", "document_urls") else r[c]
            for c in INVOICE_COLUMNS
        )
        out.setdefault(r["doc_id"], ([], []))[1].append(row)
    return {d: (spans, sorted(inv, key=_first)) for d, (spans, inv) in out.items()}


def mismatched(want: dict[str, tuple], got: dict[str, tuple]) -> list[str]:
    """Checked doc_ids whose spans or invoice rows differ (or are missing)."""
    return sorted(d for d, v in want.items() if got.get(d) != v)
