"""Traced per-layer run of the extraction benchmark (``--trace 1``).

1. Untraced reference: a session without the event log, a warm-up pass,
   then one extraction pass → ``trace.untraced_docs_per_s``.
2. A new Spark context in the same JVM with ``spark.eventLog`` on. Each
   layer is forced on its own as a cumulative prefix of the engine's
   public calls, each under a tracer span whose name is also the Spark job
   group; a layer's time is its prefix minus the previous prefix.
3. One traced extraction pass → ``trace.docs_per_s``; its outputs are
   checked like an untraced run's.
4. With Spark stopped, the kernel families run in this process on the
   workload's rows (see :func:`kernel_profile`).

Spans stay in memory and are written with the event-log roll-up and the
slowest spans to ``.perfbench_work/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import json
import random
import time
import uuid
from contextlib import contextmanager

from perfbench import eventlog, harness, procmon

KINDS = ("text", "ocr", "html", "pdf", "image")
# resolved characters the in-process family profile samples per run
PROFILE_CHARS = 300_000
PROFILE_BATCH = 256
TOP_SPANS = 5
_PAGE_DDL = "doc_id string, kind string, media_ref string, offset int, page_no int, page_text string"


def _python_cpu() -> float:
    """CPU seconds of the Spark Python daemon and workers."""
    return procmon.cpu_seconds(procmon.engine_pids()[1])


class Tracer:
    """Records one span per layer call: name, start, end, parent, run id
    and the Python workers' CPU seconds inside it. The span name is set as
    the Spark job group, so the event log attributes its stages."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        sc.setJobGroup(name, name)
        cpu0 = _python_cpu()
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(parent, parent)
            self.spans.append({
                "name": name, "parent": parent, "run_id": self.run_id,
                "start": start - self._t0, "end": end - self._t0,
                "py_cpu_s": _python_cpu() - cpu0,
            })

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def py_cpu(self, name: str) -> float:
        return sum(s["py_cpu_s"] for s in self.spans if s["name"] == name)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_layers(spark, tr: Tracer, wl, inp: dict, out) -> dict:
    """Force each layer as a cumulative prefix of public calls → counts the
    event log cannot give (cached FIELDS size, output span rows)."""
    from pyspark.sql import functions as F

    from ocr_spark.corpus import COMPANIES, SUPPLIERS
    from ocr_spark.kernel import assemble
    from ocr_spark.operators.extract import (
        attach_payloads, build_pipeline, build_pipeline_staged, explode_spans,
        extract_fields, extract_fields_paged, salted_repartition,
    )
    from ocr_spark.sources.manifests import checkpointed_write

    common = dict(companies=COMPANIES, suppliers=SUPPLIERS)

    def prefix(name, *dfs):
        with tr.span(name):
            for df in dfs:
                _noop(df)

    def count(name, df, *aggs):
        """An untimed job under its own group: the engine's output, counted."""
        with tr.span(f"count.{name}"):
            return df.agg(*aggs).first()[0]

    docs, media = harness.read_inputs(spark, inp)
    prefix("tables.scan", docs, *([] if media is None else [media]))
    rows = explode_spans(docs)
    prefix("extract.explode", rows)
    explode_rows = count("explode_rows", rows, F.count(F.lit(1)))
    rows = attach_payloads(rows, media)
    prefix("extract.attach", rows)
    payload_bytes = count("attach_payload_bytes", rows, F.sum(F.length("payload"))) or 0
    rows = salted_repartition(rows, harness.SHUFFLE_PARTITIONS)
    prefix("extract.repartition", rows)
    pages = 0
    if wl.page_split_bytes:
        big = rows.filter((F.col("kind") == "pdf") & (F.length("payload") > wl.page_split_bytes))
        split = big.mapInPandas(lambda it: map(assemble.split_pdf_pages, it), schema=_PAGE_DDL)
        # counting the page rows runs the split as a noop write would
        with tr.span("extract.pagesplit"):
            pages = split.count()
        fields = extract_fields_paged(
            rows, oversize_bytes=wl.page_split_bytes,
            num_partitions=harness.SHUFFLE_PARTITIONS, **common,
        )
    else:
        fields = extract_fields(rows, **common)
    prefix("extract.kernel", fields)

    cached_mb = 0.0
    kw = dict(page_split_bytes=wl.page_split_bytes, **common)
    if wl.staged:
        with tr.span("manifests.staging_write"):
            frames = build_pipeline_staged(
                spark, docs, media, str(out / "staging"), harness.SNAPSHOT,
                n_buckets=harness.BUCKETS, **kw,
            )
        prefix("manifests.staging_read", frames.fields)
    else:
        frames = build_pipeline(spark, docs, media, **kw)
        with tr.span("extract.fields_persist"):
            frames.fields.count()
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        cached_mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    prefix("extract.spans", frames.extracted_spans)
    prefix("extract.invoices", frames.invoices)
    for table, frame in (("spans", frames.extracted_spans), ("invoices", frames.invoices)):
        with tr.span(f"manifests.write.{table}"):
            checkpointed_write(
                spark, frame, str(out / table), n_buckets=harness.BUCKETS,
                input_snapshot=harness.SNAPSHOT,
            )
    with tr.span("count.spans_rows"):
        spans_rows = frames.extracted_spans.selectExpr("sum(size(spans))").first()[0]
    frames.unpersist()
    return {
        "fields_cached_mb": cached_mb, "spans_rows": spans_rows, "explode_rows": explode_rows,
        "attach_payload_bytes": payload_bytes, "pagesplit_pages": pages,
    }


def default_ratios(spark, out) -> dict:
    """Share of invoice rows whose field fell back to its lattice default.

    company_erp_code is left out: its default, SITSE, is also the only
    company in the dimension table, so a match and a fallback read alike."""
    from pyspark.sql import functions as F

    from ocr_spark.sources.manifests import read_committed

    inv = read_committed(spark, str(out / "invoices"), harness.SNAPSHOT)
    checks = {
        "invoice_number": F.col("invoice_number") == "INV-DEFAULT",
        "supplier_name": F.col("supplier_name") == "Fournisseur Inconnu",
        "total_ttc": F.col("including_taxes") == 0,
    }
    row = inv.agg(*[F.avg(c.cast("double")).alias(k) for k, c in checks.items()]).first()
    return row.asDict()


def kernel_profile(rows: list[dict], payloads: dict, seed: int) -> dict:
    """The kernel families in this process, on the workload's rows.

    Every span is resolved, timed per kind, with errors counted per kind
    instead of raised; that also gives the per-kind shape and the
    distinct-content ratios over (kind, content). The families then run on
    a seeded sample holding about PROFILE_CHARS resolved characters, in
    batches of PROFILE_BATCH rows; ``scale`` (all chars ÷ sample chars)
    projects their times onto the whole input. ``lattice`` is
    ``fields_batch`` minus its four families (the per-row merge and frame
    assembly). Last, ``fields_batch`` runs once per sampled span to rank
    the slowest spans (resolve + kernel, including the per-call cost)."""
    import pandas as pd

    from ocr_spark.corpus import COMPANIES, SUPPLIERS
    from ocr_spark.kernel import assemble, basic, llm, swiss

    resolve_s = dict.fromkeys(KINDS, 0.0)
    errors = dict.fromkeys(KINDS, 0)
    spans = dict.fromkeys(KINDS, 0)
    chars = dict.fromkeys(KINDS, 0)
    contents, resolve_ms = [], []
    for r in rows:
        kind = r["kind"]
        payload = payloads.get(r["media_ref"]) if r["media_ref"] else None
        t0 = time.perf_counter()
        try:
            content = assemble.resolve_content(kind, r["text"], payload)
        except Exception:  # counted per kind: the metric is the error count
            errors[kind] += 1
            content = ""
        dt = time.perf_counter() - t0
        resolve_s[kind] += dt
        resolve_ms.append(dt * 1e3)
        spans[kind] += 1
        chars[kind] += len(content)
        contents.append(content)
    distinct = {(r["kind"], c) for r, c in zip(rows, contents)}
    total_chars = sum(chars.values())

    order = list(range(len(rows)))
    random.Random(seed).shuffle(order)
    sample, sample_chars = [], 0
    for i in order:
        if sample_chars >= PROFILE_CHARS:
            break
        sample.append(i)
        sample_chars += len(contents[i])
    frame = pd.DataFrame.from_records(
        [{**{k: rows[i][k] for k in ("doc_id", "kind", "media_ref", "offset")},
          "content": contents[i]} for i in sample],
        columns=["doc_id", "kind", "media_ref", "offset", "content"],
    )
    fam = dict.fromkeys(("llm", "swiss", "basic", "normalize", "fields_batch"), 0.0)
    for lo in range(0, len(frame), PROFILE_BATCH):
        batch = frame.iloc[lo : lo + PROFILE_BATCH].reset_index(drop=True)
        text = batch["content"]
        for name, step in (
            ("llm", lambda: llm.extract(text, companies=COMPANIES, suppliers=SUPPLIERS)),
            ("swiss", lambda: swiss.extract(text)),
            ("basic", lambda: basic.extract(text)),
            ("normalize", lambda: assemble.normalize_content(batch["kind"], text)),
            ("fields_batch", lambda: assemble.fields_batch(
                batch, companies=COMPANIES, suppliers=SUPPLIERS, emit_raw_text=False)),
        ):
            t0 = time.perf_counter()
            step()
            fam[name] += time.perf_counter() - t0
    slow = []
    for j, i in enumerate(sample):
        t0 = time.perf_counter()
        assemble.fields_batch(
            frame.iloc[j : j + 1], companies=COMPANIES, suppliers=SUPPLIERS, emit_raw_text=False
        )
        ms = resolve_ms[i] + (time.perf_counter() - t0) * 1e3
        slow.append((ms, rows[i]["doc_id"], rows[i]["offset"], rows[i]["kind"]))
    scale = total_chars / sample_chars if sample_chars else 0.0
    lattice = fam["fields_batch"] - fam["llm"] - fam["swiss"] - fam["basic"] - fam["normalize"]
    slow.sort(reverse=True)
    return {
        "resolve_s": resolve_s,
        "resolve_errors": errors,
        "spans": spans,
        "chars": chars,
        "distinct_content_ratio": len(distinct) / len(rows),
        "distinct_char_ratio": sum(len(c) for _, c in distinct) / total_chars if total_chars else 1.0,
        "family_s": {
            **{k: fam[k] * scale for k in ("llm", "swiss", "basic", "normalize")},
            "lattice": lattice * scale,
        },
        "profile_spans": len(sample),
        "profile_char_share": 1 / scale if scale else 0.0,
        "slowest": [
            {"ms": ms, "doc_id": d, "offset": o, "kind": k} for ms, d, o, k in slow[:TOP_SPANS]
        ],
    }


def layer_metrics(wl, tr: Tracer, ev: dict, counts: dict, prof: dict, disk: dict) -> dict:
    """Cumulative-prefix spans, event-log groups and the kernel profile →
    the per-layer metrics (name → (value, unit))."""
    def g(name: str) -> dict:
        return ev.get(name, {})

    def diff(a: str, b: str, key: str) -> float:
        return g(a).get(key, 0) - g(b).get(key, 0)

    t = tr.seconds
    paged = bool(wl.page_split_bytes)
    split = t("extract.pagesplit") - t("extract.repartition") if paged else 0.0
    kernel_s = t("extract.kernel") - t("extract.repartition") - split

    def kernel_delta(key: str) -> float:
        v = diff("extract.kernel", "extract.repartition", key)
        return v - diff("extract.pagesplit", "extract.repartition", key) if paged else v

    kernel_py_cpu = tr.py_cpu("extract.kernel") - tr.py_cpu("extract.repartition")
    if paged:
        kernel_py_cpu -= tr.py_cpu("extract.pagesplit") - tr.py_cpu("extract.repartition")
    family_total = sum(prof["resolve_s"].values()) + sum(prof["family_s"].values())
    layers = {
        "tables.scan_s": t("tables.scan"),
        "extract.explode_s": t("extract.explode") - t("tables.scan"),
        "extract.attach_s": t("extract.attach") - t("extract.explode"),
        "extract.repartition_s": t("extract.repartition") - t("extract.attach"),
        "extract.pagesplit_s": split,
        "extract.kernel_s": kernel_s,
        "extract.fields_persist_s": (
            0.0 if wl.staged else t("extract.fields_persist") - t("extract.kernel")
        ),
        "manifests.staging_write_s": (
            t("manifests.staging_write") - t("extract.kernel") if wl.staged else 0.0
        ),
        "extract.spans_s": t("extract.spans"),
        "extract.invoices_s": t("extract.invoices"),
        "manifests.write_s.spans": t("manifests.write.spans") - t("extract.spans"),
        "manifests.write_s.invoices": t("manifests.write.invoices") - t("extract.invoices"),
    }
    e2e = t("e2e")
    unattributed = e2e - sum(layers.values())
    m = {k: (v, "s") for k, v in layers.items()}
    m.update({
        "tables.scan_bytes": (g("tables.scan").get("input_bytes", 0), "bytes"),
        "extract.explode_rows": (counts["explode_rows"], "count"),
        "extract.attach_payload_bytes": (counts["attach_payload_bytes"], "bytes"),
        "extract.repartition_shuffle_bytes": (g("extract.repartition").get("shuffle_write_bytes", 0), "bytes"),
        "extract.repartition_task_skew": (g("extract.repartition").get("task_skew", 0.0), "ratio"),
        "extract.kernel_cpu_s": (kernel_delta("cpu_ns") / 1e9 + kernel_py_cpu, "s"),
        "extract.kernel_gc_s": (kernel_delta("gc_ms") / 1e3, "s"),
        "extract.kernel_task_skew": (g("extract.kernel").get("task_skew", 0.0), "ratio"),
        "extract.kernel_arrow_bytes_to_py": (kernel_delta("py_bytes_sent"), "bytes"),
        "extract.kernel_arrow_bytes_from_py": (kernel_delta("py_bytes_received"), "bytes"),
        "extract.kernel_hop_s": (kernel_s - family_total / harness.CORES, "s"),
        "extract.pagesplit_pages": (counts["pagesplit_pages"], "count"),
        "extract.fields_cached_mb": (counts["fields_cached_mb"], "MB"),
        "extract.spans_rows": (counts["spans_rows"], "count"),
        "extract.spill_bytes": (sum(v.get("spill_bytes", 0) for v in ev.values()), "bytes"),
        "extract.unattributed_s": (unattributed, "s"),
        "extract.unattributed_share": (unattributed / e2e, "ratio"),
        "manifests.staging_read_s": (t("manifests.staging_read") if wl.staged else 0.0, "s"),
        "manifests.staging_bytes": (disk["staging_bytes"], "bytes"),
        "manifests.bytes_written": (disk["bytes_written"], "bytes"),
        "manifests.files_written": (disk["files_written"], "count"),
    })
    for kind in ("html", "pdf", "image"):
        m[f"kernel.resolve_s.{kind}"] = (prof["resolve_s"][kind], "s")
    for fam, v in prof["family_s"].items():
        m[f"kernel.{fam}_s"] = (v, "s")
    for kind in KINDS:
        m[f"kernel.spans.{kind}"] = (prof["spans"][kind], "count")
        m[f"kernel.chars.{kind}"] = (prof["chars"][kind], "count")
        m[f"kernel.resolve_errors.{kind}"] = (prof["resolve_errors"][kind], "count")
    m["kernel.distinct_content_ratio"] = (prof["distinct_content_ratio"], "ratio")
    m["kernel.distinct_char_ratio"] = (prof["distinct_char_ratio"], "ratio")
    m["kernel.slowest_span_ms"] = (prof["slowest"][0]["ms"] if prof["slowest"] else 0.0, "ms")
    m["kernel.profile_spans"] = (prof["profile_spans"], "count")
    m["kernel.profile_char_share"] = (prof["profile_char_share"], "ratio")
    return m


def _tree_size(path) -> tuple[int, int]:
    files = [p for p in path.rglob("*") if p.is_file()] if path.exists() else []
    return sum(p.stat().st_size for p in files), len(files)


def run_traced(args, wl, inp: dict, rows: list[dict], payloads: dict) -> dict:
    run_id = uuid.uuid4().hex[:12]
    evdir = harness.TMP / "eventlog"
    evdir.mkdir(parents=True)
    canaries = harness.canaries(inp)
    clock = [time.perf_counter()]
    spark, _ = harness.start_session()
    try:
        harness.warm_up(spark, wl, args.seed)
        untraced, _ = harness.measure(spark, wl, inp, 0, "untraced")
        clock.append(time.perf_counter())
        spark.stop()
        spark, _ = harness.start_session({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        tr = Tracer(spark, run_id)
        layer_out = harness.TMP / "layers"
        counts = run_layers(spark, tr, wl, inp, layer_out)
        clock.append(time.perf_counter())
        out = harness.TMP / "out-traced"
        with tr.span("e2e"):
            dt, spans_rows, invoice_rows = harness.extract_pass(spark, wl, inp, out, span=tr.span)
        traced = (dt, harness.committed_docs(spark, out, inp, spans_rows, invoice_rows))
        checked, bad = harness.check_outputs(spark, out, rows, payloads, wl.n_check, args.seed)
        defaults = default_ratios(spark, out)
    finally:
        harness.stop_jvm(spark)
    clock.append(time.perf_counter())
    (log,) = [p for p in evdir.iterdir() if p.is_file()]
    ev = eventlog.rollup(str(log))
    prof = kernel_profile(rows, payloads, args.seed)
    clock.append(time.perf_counter())
    phases = dict(zip(
        ("untraced", "layers", "traced_pass_and_checks", "eventlog_and_kernel_profile"),
        (b - a for a, b in zip(clock, clock[1:])),
    ))

    written = [_tree_size(layer_out / t) for t in ("spans", "invoices")]
    disk = {
        "staging_bytes": _tree_size(layer_out / "staging")[0],
        "bytes_written": sum(b for b, _ in written),
        "files_written": sum(n for _, n in written),
    }
    m = layer_metrics(wl, tr, ev, counts, prof, disk)
    for field, v in defaults.items():
        m[f"kernel.default_ratio.{field}"] = (v, "ratio")
    n = inp["n_docs"]
    traced_rate = traced[1] / traced[0]
    untraced_rate = untraced[0][1] / untraced[0][0]
    m["trace.docs_per_s"] = (traced_rate, "docs/s")
    m["trace.untraced_docs_per_s"] = (untraced_rate, "docs/s")
    m["trace.overhead_ratio"] = (untraced_rate / traced_rate - 1, "ratio")

    traces = harness.WORK / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    (traces / f"{wl.name}-seed{args.seed}.json").write_text(json.dumps({
        "run_id": run_id, "spans": tr.spans, "eventlog_groups": ev,
        "slowest_spans": prof["slowest"], "canaries": canaries,
    }, indent=1))
    print("slowest_spans " + json.dumps(prof["slowest"]))
    passes = [(s, c) for s, c, _ in untraced] + [traced]
    return {
        "attempted": n * len(passes),
        "failed": sum(n - c for _, c in passes),
        "checked": checked,
        "mismatched": bad,
        "passes": {"untraced": untraced, "traced": traced},
        "phases_s": phases,
        "canaries_s": canaries,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(m.items())},
    }
