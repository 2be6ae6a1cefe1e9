"""Tests of the benchmark's own parts (no Spark session needed).

    python3 -m pytest perfbench/tests -q      # from the checkout root
"""

from __future__ import annotations

import copy
import hashlib
from pathlib import Path

import pytest

from ocr_spark.kernel import assemble
from perfbench import eventlog, oracle, workloads

DATA = Path(__file__).parent / "data"


def _digest(root: Path) -> dict[str, str]:
    return {
        p.relative_to(root).as_posix(): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*")) if p.is_file()
    }


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_gives_byte_identical_inputs(tmp_path, name):
    for d, seed in (("a", 7), ("b", 7), ("c", 8)):
        workloads.generate(name, seed, str(tmp_path / d), n_docs=20)
    a, b, c = (_digest(tmp_path / d) for d in "abc")
    assert a == b
    assert a != c


def test_invoice_mix_windows_hold_the_corpus_rate_of_oversized_pdfs():
    from ocr_spark import synth
    from ocr_spark.kernel import pdfdoc

    for seed in (1, 2):
        start = workloads._synth_start(seed, 400)
        pages = [
            pdfdoc.page_count(m["payload"])
            for i in range(start, start + 400) for m in synth.gen_doc(i)[1]
            if not m["payload"].startswith(assemble.IMAGE_MARKER)
        ]
        assert sum(p > synth.NORMAL_PDF_PAGES for p in pages) == 10


def test_distinct_text_never_repeats_resolved_content(tmp_path):
    inp = workloads.generate("distinct_text", 3, str(tmp_path), n_docs=40)
    rows, payloads = workloads.read_rows(inp)
    assert inp["media"] is None and not payloads
    keys = [(r["kind"], assemble.resolve_content(r["kind"], r["text"], None)) for r in rows]
    assert len(set(keys)) == len(keys)
    assert workloads.input_shape(rows, payloads)["distinct_raw_content_ratio"] == 1.0


def _as_spark_rows(want: dict[str, tuple]):
    """Oracle output shaped like collected extracted_spans/invoices rows."""
    spans, invoices = [], []
    for doc_id, (doc_spans, doc_invoices) in want.items():
        spans.append({"doc_id": doc_id, "spans": [
            {"kind": k, "text": t, "media_ref": m, "offset": o} for k, t, m, o in doc_spans
        ]})
        for row in doc_invoices:
            r = dict(zip(oracle.INVOICE_COLUMNS, row))
            r["state_validations"] = list(r["state_validations"])
            r["document_urls"] = list(r["document_urls"])
            invoices.append(r)
    return spans, invoices


def test_planted_one_span_difference_is_a_mismatch(tmp_path):
    inp = workloads.generate("media_staged", 5, str(tmp_path), n_docs=12)
    rows, payloads = workloads.read_rows(inp)
    want = oracle.expected(rows, payloads)
    spans, invoices = _as_spark_rows(want)
    assert oracle.mismatched(want, oracle.actual(spans, invoices)) == []

    planted = copy.deepcopy(spans)
    planted[3]["spans"][0]["text"] += " "
    assert oracle.mismatched(want, oracle.actual(planted, invoices)) == [planted[3]["doc_id"]]
    # a document missing from one output table is a mismatch too
    dropped = [r for r in invoices if r["doc_id"] != spans[5]["doc_id"]]
    assert oracle.mismatched(want, oracle.actual(spans, dropped)) == [spans[5]["doc_id"]]


def test_eventlog_rollup_of_a_recorded_log():
    # recorded from: group "udf" = range(200, 4 slices).repartition(3)
    # .mapInPandas(identity) → noop write; group "agg" = range(1000).sum();
    # the session's warm-up job has no group
    groups = eventlog.rollup(str(DATA / "eventlog-tiny.jsonl"))
    assert set(groups) == {"", "udf", "agg"}
    udf, agg = groups["udf"], groups["agg"]
    assert udf["tasks"] == 7 and agg["tasks"] == 3
    assert (udf["py_bytes_sent"], udf["py_bytes_received"], udf["py_run_ms"]) == (2224, 2128, 669)
    assert udf["shuffle_write_bytes"] == udf["shuffle_read_bytes"] == 2496
    assert agg["py_bytes_sent"] == 0 and agg["shuffle_write_bytes"] == 118
    # last stage of "udf": task durations 248, 300, 345 ms
    assert udf["task_skew"] == pytest.approx(345 / 300)
    assert agg["task_skew"] == 1.0
    assert groups[""]["py_bytes_sent"] == 1600


def test_eventlog_refuses_a_compressed_log(tmp_path):
    log = tmp_path / "events.zstd"
    log.write_bytes(b"\x28\xb5\x2f\xfd rest")
    with pytest.raises(ValueError):
        eventlog.rollup(str(log))
