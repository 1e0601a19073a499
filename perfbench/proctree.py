"""CPU and resident memory of a process tree, read from ``/proc``.

The engine runs in a JVM that the benchmark's Python process launches,
and the JVM forks the PySpark worker daemon, whose children run Python
UDFs. Walking the descendants of the benchmark process therefore covers
the JVM and every Python worker. psutil is not a dependency; this reads
``/proc/<pid>/stat`` directly.

CPU of a process that has exited is not lost: once its parent reaps it,
the kernel adds it to the parent's ``cutime``/``cstime``. A tree total
of ``utime + stime + cutime + cstime`` over the live processes therefore
only grows, and its difference across an interval is the CPU the tree
spent in that interval.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_PROC = Path("/proc")


@dataclass(frozen=True)
class ProcStat:
    pid: int
    ppid: int
    comm: str
    own_cpu_s: float  # user + system
    children_cpu_s: float  # of reaped children; per process, not per thread
    rss_bytes: int

    @property
    def cpu_s(self) -> float:
        return self.own_cpu_s + self.children_cpu_s

    @property
    def is_python(self) -> bool:
        return self.comm.startswith("python")


def parse_stat(text: str) -> ProcStat:
    """Parse one ``/proc/<pid>/stat`` line. ``comm`` sits in parentheses
    and may itself hold spaces or parentheses, so split at the last ')'."""
    lpar, rpar = text.index("("), text.rindex(")")
    pid = int(text[:lpar])
    comm = text[lpar + 1 : rpar]
    f = text[rpar + 2 :].split()
    # f[0] is field 3 (state) of proc(5); utime..cstime are fields 14-17
    # and rss is field 24
    own = (int(f[11]) + int(f[12])) / _TICK
    children = (int(f[13]) + int(f[14])) / _TICK
    return ProcStat(pid, int(f[1]), comm, own, children, int(f[21]) * _PAGE)


def snapshot() -> dict[int, ProcStat]:
    """Every process visible in ``/proc``; those that exit mid-scan are skipped."""
    out: dict[int, ProcStat] = {}
    for entry in _PROC.iterdir():
        if not entry.name.isdigit():
            continue
        try:
            out[int(entry.name)] = parse_stat((entry / "stat").read_text())
        except (OSError, ValueError, IndexError):
            continue
    return out


def descendants(root: int, table: dict[int, ProcStat]) -> list[ProcStat]:
    """All processes below ``root`` in ``table`` (``root`` excluded),
    breadth first."""
    children: dict[int, list[int]] = {}
    for st in table.values():
        children.setdefault(st.ppid, []).append(st.pid)
    out: list[ProcStat] = []
    frontier = [root]
    while frontier:
        nxt: list[int] = []
        for pid in frontier:
            for child in sorted(children.get(pid, ())):
                out.append(table[child])
                nxt.append(child)
        frontier = nxt
    return out


@dataclass(frozen=True)
class TreeUsage:
    cpu_s: float  # JVM plus Python workers
    python_cpu_s: float  # Python workers only
    rss_bytes: int


def tree_usage() -> TreeUsage:
    """CPU and RSS of the descendants of this process. The process itself
    is left out: it is the benchmark, not the engine."""
    procs = descendants(os.getpid(), snapshot())
    return TreeUsage(
        cpu_s=sum(p.cpu_s for p in procs),
        python_cpu_s=sum(p.cpu_s for p in procs if p.is_python),
        rss_bytes=sum(p.rss_bytes for p in procs),
    )


class PeakRssSampler:
    """Background thread that polls the tree's RSS and keeps the peak.

    Use as a context manager; ``peak_bytes`` is valid after exit and,
    while running, holds the peak so far."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while True:
            rss = sum(p.rss_bytes for p in descendants(os.getpid(), snapshot()))
            self.peak_bytes = max(self.peak_bytes, rss)
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> PeakRssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
