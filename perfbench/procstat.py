"""Process-tree CPU and memory, and host noise, read from ``/proc``.

The benchmark's process tree is this Python process, the JVM it
launches and the Python workers the JVM forks. CPU is user + system
time including reaped children (``cutime``/``cstime``), so a worker
that exits during the pass is still counted through its parent.
"""

from __future__ import annotations

import os
import signal
import threading
import time

TICK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def parse_stat(text: str) -> tuple[int, int]:
    """(ppid, cpu ticks) from one ``/proc/<pid>/stat`` line; the cpu
    ticks are utime + stime + cutime + cstime."""
    rest = text[text.rindex(")") + 2:].split()
    return int(rest[1]), sum(int(x) for x in rest[11:15])


def _snapshot() -> dict[int, tuple[int, int]]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    out[int(d)] = parse_stat(fh.read())
            except (OSError, ValueError):
                pass  # exited between listdir and open
    return out


def descendants(root: int, stats: dict[int, tuple[int, int]]) -> list[int]:
    """``root`` and every process below it in ``stats``' ppid links."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_ticks(root: int, stats: dict[int, tuple[int, int]]) -> int:
    return sum(stats[p][1] for p in descendants(root, stats))


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (default: this process) and
    all its live descendants, including children they have reaped."""
    return tree_cpu_ticks(root or os.getpid(), _snapshot()) / TICK


def tree_rss_mb(root: int | None = None) -> float:
    total = 0
    for pid in descendants(root or os.getpid(), _snapshot()):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, ValueError, IndexError):
            pass
    return total * PAGE / 1e6


class RssSampler:
    """Samples the tree's resident memory every ``interval_s`` on a
    thread between ``start()`` and ``stop()``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s, self.samples_mb = interval_s, []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples_mb.append(tree_rss_mb())
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> list[float]:
        self._stop.set()
        self._thread.join()
        return self.samples_mb


def host_cpu() -> tuple[int, int, int]:
    """(total, busy, steal) ticks of the first ``/proc/stat`` line."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    idle = f[3] + f[4]  # idle + iowait
    steal = f[7] if len(f) > 7 else 0
    total = sum(f[:8])
    return total, total - idle - steal, steal


def host_noise(before: tuple[int, int, int], after: tuple[int, int, int], own_cpu_s: float) -> dict:
    """Steal and other-tenant shares of host CPU capacity over an
    interval; ``own_cpu_s`` is this process tree's CPU in it."""
    total = max(1, after[0] - before[0])
    busy = after[1] - before[1]
    return {
        "steal_share": round((after[2] - before[2]) / total, 4),
        "other_cpu_share": round(max(0.0, busy - own_cpu_s * TICK) / total, 4),
    }


def stop_tree(timeout_s: float = 20.0) -> None:
    """Terminate every descendant of this process and wait until all
    have exited (SIGKILL after ``timeout_s``)."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    sig = signal.SIGTERM
    while True:
        left = [p for p in descendants(me, _snapshot()) if p != me]
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)  # reap direct children
            except ChildProcessError:
                pass
        if not left or time.monotonic() > deadline + 10:
            return  # a zombie whose parent never reaps cannot be waited on
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.1)
