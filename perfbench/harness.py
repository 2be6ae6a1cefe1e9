"""Shared pieces of the extraction benchmark: the Spark session it runs,
one production-shaped extraction pass, the commit count and the oracle
check, and the host fingerprint."""

from __future__ import annotations

import hashlib
import json
import os
import platform
import random
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"
TMP = WORK / "tmp"
CORES = min(4, len(os.sched_getaffinity(0)))
# bench.py's setting: finer tasks smooth the kernel's per-row cost skew
SHUFFLE_PARTITIONS = 3 * CORES
BUCKETS = 64  # jobs/extract.py --buckets default
SNAPSHOT = "perfbench"
MIN_PASSES = 1
WARM_DOCS = 16


def spark_env() -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the engine from it."""
    for d in ("local", "pytmp", "jtmp"):
        (TMP / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(TMP / "local")
    os.environ["TMPDIR"] = str(TMP / "pytmp")
    # every JVM this run starts (spark-submit's launcher and the driver):
    # no hsperfdata files, temp files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={TMP / 'jtmp'}"


def _warm_worker(it):
    import ocr_spark.kernel.assemble  # noqa: F401 — the workers' import cost

    yield from it


def start_session(extra: dict[str, str] | None = None):
    """SparkSession as the benchmark runs it → (spark, set-up seconds).

    Set-up runs from the session request until a first trivial job that
    imports the kernel on 2N Python tasks completes, so it covers the JVM,
    the Spark context and the Python workers."""
    from ocr_spark.session import get_spark

    conf = {
        # A fixed heap ceiling (the engine's default is 8g, far above what
        # these inputs need); the heap is committed as it is used, so the
        # JVM's resident size, and with it peak RSS, follows what the run
        # holds in the heap (cached FIELDS included).
        # JIT tiering stops at C1: on a few cores the C2 compiler threads
        # compete with the Python workers for a whole short run (measured
        # ~1.7x slower passes on 4 cores) and the JVM keeps speeding up
        # from pass to pass; with C1 it is steady after the warm-up pass.
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1",
        "spark.sql.warehouse.dir": str(TMP / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        **(extra or {}),
    }
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
    )
    spark.range(0, 2 * CORES, 1, 2 * CORES).mapInPandas(_warm_worker, "id long").collect()
    setup = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, setup


def stop_jvm(spark) -> None:
    """Stop Spark, end the gateway JVM and wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    from perfbench import procmon

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while procmon.descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in procmon.descendants():
        os.kill(pid, 9)


def read_inputs(spark, inp: dict):
    from ocr_spark.schemas import DOCUMENTS, MEDIA

    docs = spark.read.schema(DOCUMENTS).parquet(inp["docs"])
    media = spark.read.schema(MEDIA).parquet(inp["media"]) if inp["media"] else None
    return docs, media


def extract_pass(spark, wl, inp: dict, out: Path, span=None) -> tuple[float, int, int]:
    """One production-shaped extraction into ``out`` → (seconds, committed
    extracted_spans rows, committed invoices rows). Seconds run from the
    first call into build_pipeline* to the return of the last write.

    ``span`` (a tracer's span context factory) tags each step when traced."""
    from contextlib import nullcontext

    from ocr_spark.corpus import COMPANIES, SUPPLIERS
    from ocr_spark.operators.extract import build_pipeline, build_pipeline_staged
    from ocr_spark.sources.manifests import checkpointed_write

    span = span or (lambda name: nullcontext())
    docs, media = read_inputs(spark, inp)
    common = dict(
        companies=COMPANIES, suppliers=SUPPLIERS, page_split_bytes=wl.page_split_bytes,
    )
    t0 = time.perf_counter()
    with span("e2e.pipeline"):
        if wl.staged:
            frames = build_pipeline_staged(
                spark, docs, media, str(out / "staging"), SNAPSHOT,
                n_buckets=BUCKETS, **common,
            )
        else:
            frames = build_pipeline(spark, docs, media, **common)
    with span("e2e.write_spans"):
        spans = checkpointed_write(
            spark, frames.extracted_spans, str(out / "spans"),
            n_buckets=BUCKETS, input_snapshot=SNAPSHOT,
        )
    with span("e2e.write_invoices"):
        invoices = checkpointed_write(
            spark, frames.invoices, str(out / "invoices"),
            n_buckets=BUCKETS, input_snapshot=SNAPSHOT,
        )
    seconds = time.perf_counter() - t0
    frames.unpersist()
    return seconds, spans["rows"], invoices["rows"]


def committed_docs(spark, out: Path, inp: dict, spans_rows: int, invoice_rows: int) -> int:
    """Documents with committed rows in both output tables.

    The manifests' row counts settle the common case: one extracted_spans
    row per document and one invoices row per input span means every
    document landed in both. Any other count is resolved by joining the
    committed doc_ids."""
    from ocr_spark.sources.manifests import read_committed

    if spans_rows == inp["n_docs"] and invoice_rows == inp["n_spans"]:
        return inp["n_docs"]
    spans = read_committed(spark, str(out / "spans"), SNAPSHOT).select("doc_id").distinct()
    invoices = read_committed(spark, str(out / "invoices"), SNAPSHOT).select("doc_id").distinct()
    return spans.join(invoices, "doc_id").count()


def check_outputs(spark, out: Path, rows: list[dict], payloads: dict, n_check: int, seed: int):
    """Compare a seeded sample of documents with the oracle → (checked, mismatched ids)."""
    from pyspark.sql import functions as F

    from ocr_spark.sources.manifests import read_committed
    from perfbench import oracle

    doc_ids = sorted({r["doc_id"] for r in rows})
    sample = set(random.Random(seed).sample(doc_ids, min(n_check, len(doc_ids))))
    keep = F.col("doc_id").isin(sorted(sample))
    got = oracle.actual(
        read_committed(spark, str(out / "spans"), SNAPSHOT).filter(keep).collect(),
        read_committed(spark, str(out / "invoices"), SNAPSHOT).filter(keep).collect(),
    )
    want = oracle.expected([r for r in rows if r["doc_id"] in sample], payloads)
    return len(sample), oracle.mismatched(want, got)


def warm_up(spark, wl, seed: int) -> None:
    """One untimed pass on a WARM_DOCS-document input from another seed:
    compiles every query plan of the pass and warms the JIT and the Python
    workers' code paths (the passes after it run at a steady speed)."""
    from perfbench import workloads

    warm = workloads.generate(wl.name, seed + 1, str(TMP / "warm-input"), WARM_DOCS)
    extract_pass(spark, wl, warm, TMP / "warm-out")


def canaries(inp: dict) -> dict[str, float]:
    """bench.py's three host-health probes (JVM arithmetic, Arrow+pandas,
    parquet scan), run by perfbench/canaries.py in a process of its own.
    Recorded beside the results, they gate nothing."""
    probe = subprocess.run(
        [sys.executable, str(Path(__file__).with_name("canaries.py")), inp["docs"]],
        capture_output=True, text=True, timeout=150, check=True,
    )
    return json.loads(probe.stdout.splitlines()[-1])


def measure(spark, wl, inp: dict, seconds: float, tag: str):
    """Timed passes, at least MIN_PASSES, then more while the next one
    (taken to last as long as the previous) would end within ``seconds``
    → ([(seconds, committed docs, peak RSS bytes)] per pass, output dir of
    the last pass that completed, or None).

    A pass that raises commits nothing: all its documents count as failed
    and measuring stops there."""
    from perfbench import procmon

    passes, good = [], None
    t_start = time.perf_counter()
    while len(passes) < MIN_PASSES or (
        time.perf_counter() - t_start + passes[-1][0] <= seconds
    ):
        out = TMP / f"out-{tag}-{len(passes)}"
        t0 = time.perf_counter()
        rss = procmon.PeakRss()
        try:
            with rss:
                dt, spans_rows, invoice_rows = extract_pass(spark, wl, inp, out)
        except Exception:  # a failed pass is a result to report, not a crash
            traceback.print_exc()
            passes.append((time.perf_counter() - t0, 0, rss.peak))
            break
        if good is not None:
            shutil.rmtree(good)
        good = out
        passes.append((dt, committed_docs(spark, out, inp, spans_rows, invoice_rows), rss.peak))
    return passes, good


def fingerprint() -> dict:
    import pandas
    import pyarrow
    import pyspark

    def first(path: str, key: str) -> str | None:
        """Value of the first ``key: value`` (or ``KEY=value``) line of a file."""
        try:
            with open(path) as f:
                line = next((ln for ln in f if ln.startswith(key)), None)
        except OSError:
            return None
        return None if line is None else line[len(key):].lstrip(" \t:").strip().strip('"')

    commit = None
    if (ROOT / ".git").exists():
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                timeout=30,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    # the checkout may not be a git repository: a digest of the engine's
    # sources identifies the code either way
    src = hashlib.sha256()
    for p in sorted([*ROOT.glob("ocr_spark/**/*.py"), *ROOT.glob("jobs/*.py")]):
        src.update(p.relative_to(ROOT).as_posix().encode() + b"\0" + p.read_bytes())
    return {
        "nproc": os.cpu_count(),
        "cpus_allowed": len(os.sched_getaffinity(0)),
        "cpu_model": first("/proc/cpuinfo", "model name"),
        "mem_total": first("/proc/meminfo", "MemTotal"),
        "spark_master": f"local[{CORES}]",
        "python": platform.python_version(),
        "java": first(os.path.join(os.environ.get("JAVA_HOME", ""), "release"), "JAVA_VERSION="),
        "pyspark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "git_commit": commit,
        "source_sha256": src.hexdigest(),
    }
