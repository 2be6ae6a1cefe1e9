"""bench.py's three host-health probes on a session of their own.

    python3 perfbench/canaries.py <parquet dir>    # prints one JSON line

The benchmark's sessions limit the JIT to C1, under which bench.py's JVM
arithmetic probe alone runs ~30 s instead of well under one; this session
keeps the engine's default JIT, so the probes read as bench.py's do.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import harness  # noqa: E402 — needs the checkout on sys.path


def main() -> None:
    import bench

    harness.spark_env()
    spark, _ = harness.start_session({"spark.driver.extraJavaOptions": ""})
    try:
        probes = bench.measure_canaries(spark, sys.argv[1])
    finally:
        harness.stop_jvm(spark)
    print(json.dumps(probes))


if __name__ == "__main__":
    main()
