"""CPU and resident memory of the Spark process tree, read from /proc.

The tree is every descendant of the benchmark process: the driver JVM,
the PySpark daemon and its Python workers. CPU counts each live
process's own time plus the time of the children it has reaped, so
workers that exit mid-run still count. One sampler thread tracks the
peak summed RSS.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state; stat(5) numbering minus 3
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    rss = int(fields[21]) * _PAGE
    return ppid, cpu, rss


def tree(root: int) -> dict[int, tuple[float, int]]:
    """pid → (cpu s, rss bytes) for every descendant of ``root``."""
    info: dict[int, tuple[int, float, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                info[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in info.items():
        kids.setdefault(ppid, []).append(pid)
    out: dict[int, tuple[float, int]] = {}
    stack = list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        out[pid] = info[pid][1:]
        stack.extend(kids.get(pid, []))
    return out


def running(pids) -> list[int]:
    """The pids in ``pids`` that still run (zombies count as ended)."""
    alive = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                raw = f.read().decode()
        except OSError:
            continue
        if raw[raw.rindex(")") + 2] != "Z":
            alive.append(pid)
    return alive


def wait_ended(pids, seconds: float) -> bool:
    deadline = time.time() + seconds
    while running(pids):
        if time.time() > deadline:
            return False
        time.sleep(0.1)
    return True


def steal_s() -> float:
    """CPU time the hypervisor gave other guests, summed over all cpus: a
    run whose steal jumps shared its host with a noisy neighbour."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def tree_cpu_s() -> float:
    return sum(c for c, _ in tree(os.getpid()).values())


class Sampler:
    """Samples the tree's summed RSS every ``interval`` seconds."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_rss = 0
        self.at_peak: list[int] = []  # per-process RSS (MiB) at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="procstat", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            each = [r for _, r in tree(root).values()]
            if sum(each) > self.peak_rss:
                self.peak_rss = sum(each)
                self.at_peak = sorted((r >> 20 for r in each), reverse=True)
            self._stop.wait(self.interval)

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
