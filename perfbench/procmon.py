"""Resident memory and CPU time of the Spark engine's processes, from /proc.

The engine is the driver JVM that pyspark's gateway starts as a child of
this process, plus the Python daemon and workers under it. Short-lived
children the JVM forks for shell commands are left out: until they exec
they report the JVM's whole resident set again. The benchmark's own
interpreter is excluded too.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")
SAMPLE_INTERVAL_S = 0.05


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def _parents() -> dict[int, int]:
    out = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                out[int(pid)] = int(st[1])
    return out


def descendants(parents: dict[int, int] | None = None) -> list[int]:
    """Every process below this one; ``parents`` is a ``_parents()`` map
    already taken, to scan /proc only once."""
    children: dict[int, list[int]] = {}
    for pid, ppid in (_parents() if parents is None else parents).items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> list[bytes]:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().split(b"\0")
    except OSError:
        return []


def engine_pids() -> tuple[list[int], list[int]]:
    """(driver JVM pids, Spark Python daemon/worker pids) under this process."""
    me = os.getpid()
    parents = _parents()
    jvm, python = [], []
    for pid in descendants(parents):
        cmd = _cmdline(pid)
        if cmd and os.path.basename(cmd[0]) == b"java":
            # a fork of the JVM still shows the JVM's command line
            if parents.get(pid) == me:
                jvm.append(pid)
        elif any(b"pyspark" in part for part in cmd):
            python.append(pid)
    return jvm, python


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime, plus that of their reaped children, for ``pids``."""
    ticks = 0
    for pid in pids:
        st = _stat(str(pid))
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def engine_rss() -> int:
    jvm, python = engine_pids()
    return rss_bytes(jvm + python)


class PeakRss:
    """Samples the engine's summed RSS on a thread while the ``with``
    block runs; ``peak`` holds the largest sample."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, engine_rss())
            if self._stop.wait(SAMPLE_INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, engine_rss())
