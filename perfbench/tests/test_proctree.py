"""The /proc tree walk that cpu_s, python_cpu_s and peak_rss_mib rest on."""

from __future__ import annotations

import os
import subprocess
import sys
import time

import proctree
from proctree import ProcStat, descendants, parse_stat, snapshot, tree_usage


def _stat(pid: int, ppid: int, comm: str = "java") -> ProcStat:
    return ProcStat(pid, ppid, comm, 0.0, 0.0, 0)


def test_parse_stat_handles_spaces_and_parens_in_comm():
    tick, page = proctree._TICK, proctree._PAGE
    fields = ["S", "41"] + ["0"] * 9 + [str(3 * tick), str(tick), "0", str(tick)] + ["0"] * 6 + ["7"]
    st = parse_stat("123 (python3 (w) x) " + " ".join(fields) + " 0 0 0")
    assert (st.pid, st.ppid, st.comm) == (123, 41, "python3 (w) x")
    assert (st.own_cpu_s, st.children_cpu_s, st.cpu_s) == (4.0, 1.0, 5.0)
    assert st.rss_bytes == 7 * page
    assert st.is_python


def test_descendants_walks_the_whole_subtree_and_nothing_else():
    table = {
        s.pid: s
        for s in (
            _stat(1, 0, "init"),
            _stat(10, 1, "python3"),  # the benchmark
            _stat(11, 10),  # JVM
            _stat(12, 11, "python3"),  # worker daemon
            _stat(13, 12, "python3"),  # worker
            _stat(14, 12, "python3"),  # worker
            _stat(20, 1, "sshd"),  # unrelated
            _stat(21, 20, "bash"),
        )
    }
    assert [p.pid for p in descendants(10, table)] == [11, 12, 13, 14]
    assert [p.pid for p in descendants(12, table)] == [13, 14]
    assert descendants(13, table) == []


_GRANDCHILD = (
    "import subprocess, sys; "
    "p = subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(30)']); "
    "print(p.pid, flush=True); "
    "t = __import__('time').time() + 1.0\n"
    "while __import__('time').time() < t: pass\n"
    "sys.stdin.read(); p.kill(); p.wait()"
)


def test_live_tree_includes_grandchildren_and_their_cpu():
    child = subprocess.Popen(
        [sys.executable, "-c", _GRANDCHILD], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
    )
    try:
        grandchild = int(child.stdout.readline())
        time.sleep(1.2)  # the child spins ~1 s of CPU
        pids = {p.pid for p in descendants(os.getpid(), snapshot())}
        assert {child.pid, grandchild} <= pids
        usage = tree_usage()
        assert usage.cpu_s >= 0.5
        assert usage.python_cpu_s >= 0.5
        assert usage.rss_bytes > 0
    finally:
        child.stdin.close()
        child.wait(timeout=30)
    assert child.returncode == 0
