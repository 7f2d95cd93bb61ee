"""CPU and memory of this process and every process it started, read from
``/proc`` (no psutil).

The tree is this driver, the Spark JVM it launches, the JVM's Python daemon
and the daemon's forked workers. A worker that exits is reaped by its
parent, so its CPU moves into the parent's ``cutime``/``cstime`` and a
before/after delta over the live tree stays whole.
"""

from __future__ import annotations

import os
import threading
import time
from typing import Dict, List, Tuple

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> Tuple[str, int, float]:
    """(comm, ppid, cpu seconds incl. reaped children) of one process."""
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state (stat field 3): utime..cstime are fields 14..17
    ticks = sum(int(x) for x in fields[11:15])
    return comm, int(fields[1]), ticks / _TICK


def tree() -> Dict[int, Tuple[str, int, float]]:
    """pid -> (comm, ppid, cpu_s) for this process and its descendants."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                procs[int(name)] = _stat(int(name))
            except (OSError, ValueError):
                continue  # exited while listing
    root = os.getpid()
    keep = {root}
    frontier = [root]
    children: Dict[int, List[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    while frontier:
        nxt = []
        for pid in frontier:
            for c in children.get(pid, ()):
                if c not in keep:
                    keep.add(c)
                    nxt.append(c)
        frontier = nxt
    return {pid: procs[pid] for pid in keep if pid in procs}


def _jit_cpu(pid: int) -> float:
    """CPU seconds of a JVM's live JIT compiler threads."""
    total = 0.0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if raw[raw.index("(") + 1 :].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            fields = raw[raw.rindex(")") + 2 :].split()
            total += (int(fields[11]) + int(fields[12])) / _TICK
    return total


def cpu_split() -> Dict[str, float]:
    """CPU seconds so far by role: driver (this process), jvm (without its
    JIT compiler threads), jit, python (the JVM's Python daemon and
    workers)."""
    out = {"driver": 0.0, "jvm": 0.0, "jit": 0.0, "python": 0.0}
    me = os.getpid()
    for pid, (comm, _, cpu) in tree().items():
        if pid == me:
            out["driver"] += cpu
        elif comm == "java":
            jit = _jit_cpu(pid)
            out["jit"] += jit
            out["jvm"] += cpu - jit
        else:
            out["python"] += cpu
    return out


def pss_mb() -> float:
    """Summed proportional set size of the tree, in MiB."""
    total_kb = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class PeakPss:
    """Background sampler of the tree's PSS; ``peak`` is the largest sample
    taken between ``start()`` and ``stop()``. ``cpu_s`` is the sampler's
    own CPU so far, which callers subtract from the driver's."""

    def __init__(self, interval_s: float):
        self.interval_s = interval_s
        self.peak = 0.0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        t0 = time.thread_time()
        while not self._stop.is_set():
            self.peak = max(self.peak, pss_mb())
            self.cpu_s = time.thread_time() - t0
            self._stop.wait(self.interval_s)

    def start(self) -> "PeakPss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak
