"""Memory of the whole process tree: the Python driver, the Spark JVM it
launched and the Python workers that JVM forks.

Each sample sums PSS (proportional set size) from
``/proc/<pid>/smaps_rollup``, so pages shared between the forked Python
workers are counted once in total rather than once per worker. A sampler
thread records the peak of the sum and the per-role peaks; it reads only
``/proc``, releases the GIL while it waits, and is stopped before the
checker runs so the checker's memory is never in a sample. It samples once
a second: each reading walks the JVM's page tables, which stalls the JVM's
own page faults while it runs.
"""

from __future__ import annotations

import os
import threading


def children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may contain spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def sample() -> dict[str, float]:
    """One reading: PSS in MB per role, and the Python worker count."""
    kids = children()
    root = os.getpid()
    out = {"driver": _pss_kb(root) / 1024, "jvm": 0.0, "workers": 0.0, "n_workers": 0}
    stack = [(p, False) for p in kids.get(root, [])]
    while stack:
        pid, under_jvm = stack.pop()
        is_jvm = _comm(pid) == "java"
        mb = _pss_kb(pid) / 1024
        if is_jvm:
            out["jvm"] += mb
        elif under_jvm:
            out["workers"] += mb
            out["n_workers"] += 1
        else:
            out["driver"] += mb  # launcher shells between driver and JVM
        stack += [(c, under_jvm or is_jvm) for c in kids.get(pid, [])]
    out["total"] = out["driver"] + out["jvm"] + out["workers"]
    return out


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times()`` readings: noise from outside this machine."""
    total = sum(after) - sum(before)
    return (after[7] - before[7]) / total if total else 0.0


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class PeakSampler:
    """Samples the tree every ``period`` seconds between start() and stop()."""

    def __init__(self, period: float = 1.0):
        self.period = period
        self.peak: dict[str, float] = {}
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="pss", daemon=True)

    def _run(self) -> None:
        while True:
            s = sample()
            self.samples += 1
            for k, v in s.items():
                self.peak[k] = max(self.peak.get(k, 0.0), v)
            if self._stop.wait(self.period):
                return

    def start(self) -> "PeakSampler":
        self._thread.start()
        return self

    def stop(self) -> dict[str, float]:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak
