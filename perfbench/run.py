#!/usr/bin/env python3
"""Extraction benchmark: docs/s, set-up time, memory and output checks.

    python3 perfbench/run.py --workload invoice_mix --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Each run generates its workload's
input from ``--seed`` (untimed), starts Spark on ``local[N]``
(N = min(4, cores)), then repeats the production extraction shape of
``jobs/extract.py`` — ``build_pipeline``/``build_pipeline_staged``, then
``checkpointed_write`` of ``extracted_spans`` and ``invoices`` — on fresh
output directories, after one warm-up pass, for as many passes as end
within ``--seconds`` (at least one). After each pass it counts the
documents committed in both tables; after the last it compares a seeded
sample of documents with the pandas oracle.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
traced per-layer breakdown instead (see perfbench/README.md). The last
stdout line is one JSON object: correct, attempted, failed, metrics.
Everything the run writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import harness  # noqa: E402 — needs ROOT on sys.path


def run_untraced(args, wl, inp, rows, payloads) -> dict:
    spark, setup = harness.start_session()
    clock = [time.perf_counter()]
    try:
        harness.warm_up(spark, wl, args.seed)
        clock.append(time.perf_counter())
        passes, out = harness.measure(spark, wl, inp, args.seconds, "e2e")
        clock.append(time.perf_counter())
        checked, bad = (0, []) if out is None else harness.check_outputs(
            spark, out, rows, payloads, wl.n_check, args.seed
        )
        clock.append(time.perf_counter())
    finally:
        harness.stop_jvm(spark)
    clock.append(time.perf_counter())
    phases = dict(zip(
        ("warm_up", "measure", "check", "stop"), (b - a for a, b in zip(clock, clock[1:]))
    ))
    n = inp["n_docs"]
    attempted = n * len(passes)
    failed = sum(n - c for _, c, _ in passes)
    return {
        "attempted": attempted,
        "failed": failed,
        "checked": checked,
        "mismatched": bad,
        "passes": [{"seconds": s, "committed_docs": c, "peak_rss_bytes": r} for s, c, r in passes],
        "phases_s": phases,
        "metrics": {
            "docs_per_s": {"value": statistics.median(c / s for s, c, _ in passes), "unit": "docs/s"},
            "setup_s": {"value": setup, "unit": "s"},
            "peak_rss_mb": {"value": max(r for _, _, r in passes) / 2**20, "unit": "MB"},
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "ocr_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine sources (ocr_spark/) under {ROOT}", file=sys.stderr)
        return 2

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    wl = workloads.WORKLOADS[args.workload]
    shutil.rmtree(harness.TMP, ignore_errors=True)
    harness.spark_env()
    inp = workloads.generate(wl.name, args.seed, str(harness.TMP / "input"))
    rows, payloads = workloads.read_rows(inp)
    inp["n_spans"] = len(rows)
    shape = workloads.input_shape(rows, payloads)
    host = harness.fingerprint()

    if args.trace:
        from perfbench import tracing

        res = tracing.run_traced(args, wl, inp, rows, payloads)
    else:
        res = run_untraced(args, wl, inp, rows, payloads)
    shutil.rmtree(harness.TMP, ignore_errors=True)

    failed_ratio = res["failed"] / res["attempted"]
    mismatch_ratio = len(res["mismatched"]) / res["checked"] if res["checked"] else None
    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "input": shape,
        "failed_doc_ratio": failed_ratio, "output_mismatch_ratio": mismatch_ratio,
        **res,
    }
    results = harness.WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{wl.name}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1, default=str)
    )
    print("host " + json.dumps(host))
    print("input " + json.dumps(shape))
    if "canaries_s" in res:
        print("canaries_s " + json.dumps(res["canaries_s"]))
    print(" ".join(
        [f"{k}={v['value']:.6g}{v['unit']}" for k, v in res["metrics"].items()]
        + [f"failed_doc_ratio={failed_ratio:g}", f"output_mismatch_ratio={mismatch_ratio}",
           f"checked_docs={res['checked']}", f"mismatched={res['mismatched'][:5]}"]
    ))
    print(json.dumps({
        "correct": res["failed"] == 0 and not res["mismatched"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": res["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
