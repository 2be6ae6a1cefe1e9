"""Stdlib roll-up of a Spark event log, per job group.

Reads an uncompressed, non-rolling event log (``spark.eventLog.compress``
and ``spark.eventLog.rolling.enabled`` both false): one JSON event per
line. Stages map to the job group of the job that submitted them; task-end
events are summed per group.

    python3 perfbench/eventlog.py <event log file>   # prints the roll-up
"""

from __future__ import annotations

import json
import statistics
import sys

# SQL accumulables the Python-UDF operators (mapInPandas, applyInPandas)
# report per task; their values are bytes or milliseconds
_PY_ACCUMS = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_received",
    "time to run Python workers": "py_run_ms",
}

_SUMS = (
    "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes",
    *_PY_ACCUMS.values(),
)


def read_events(path: str):
    with open(path, "rb") as f:
        head = f.read(1)
        if head and head != b"{":
            raise ValueError(f"{path}: not a plain JSON-lines event log (compressed?)")
        f.seek(0)
        for line in f:
            if line.strip():
                yield json.loads(line)


def rollup(path: str) -> dict[str, dict]:
    """Event log → {job group: metrics}.

    Metrics per group: task count, executor run/CPU/GC time, shuffle read
    and write bytes, spilled bytes (memory + disk), input/output bytes,
    Python-UDF bytes sent/received and worker run time, and
    ``task_skew``: max ÷ median task duration in the group's last stage
    (the one that runs the prefix's final operator). Jobs without a group
    land under "".
    """
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    durations: dict[int, list[int]] = {}
    for ev in read_events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
            groups.setdefault(group, dict.fromkeys(_SUMS, 0))
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            g = groups.setdefault(stage_group.get(sid, ""), dict.fromkeys(_SUMS, 0))
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            g["tasks"] += 1
            g["run_ms"] += m.get("Executor Run Time", 0)
            g["cpu_ns"] += m.get("Executor CPU Time", 0)
            g["gc_ms"] += m.get("JVM GC Time", 0)
            g["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            g["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            g["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in info.get("Accumulables", []):
                key = _PY_ACCUMS.get(acc.get("Name"))
                if key is not None:
                    g[key] += int(acc.get("Update") or 0)
            durations.setdefault(sid, []).append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
    last: dict[str, int] = {}
    for sid in durations:
        group = stage_group.get(sid, "")
        last[group] = max(sid, last.get(group, sid))
    for group, g in groups.items():
        d = durations.get(last.get(group, -1), [])
        med = statistics.median(d) if d else 0
        g["task_skew"] = max(d) / med if med > 0 else 0.0
    return groups


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: eventlog.py <event log file>")
    json.dump(rollup(sys.argv[1]), sys.stdout, indent=1, sort_keys=True)
    print()
