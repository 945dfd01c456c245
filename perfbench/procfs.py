"""Process and CPU accounting read from /proc (Linux)."""

from __future__ import annotations

import os
import signal
import threading
import time

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat(pid) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name: ``[0]`` is the
    state, ``[1]`` the parent pid, ``[11:15]`` utime, stime, cutime, cstime."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(name)) is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def running(pids: list[int]) -> list[int]:
    """The processes of ``pids`` that have not ended (zombies count as ended)."""
    return [p for p in pids if (st := _stat(p)) is not None and st[0] != "Z"]


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants: the JVM and the Python workers, and the
    workers that have already ended and been collected by their parent.
    Time the hypervisor gave to other guests is not in it."""
    total = 0
    for pid in process_tree(os.getpid()):
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICKS


def reap(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended (or is a zombie left
    for its new parent to collect); kill what is still running after
    ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while (left := running(pids)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    while running(pids) and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def cpu_times() -> list[int]:
    """Host-wide CPU time counters (the ``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time taken by other guests of a virtual machine's host
    between two ``cpu_times`` readings: a source of noise the run cannot
    control, recorded so that a slow run can be explained."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


class RssSampler(threading.Thread):
    """Peak anonymous resident memory (``RssAnon``) of this process and all
    its descendants (the JVM and the Python workers), sampled from /proc.
    File-backed pages (jars, shared libraries) are left out: the kernel
    drops them under host memory pressure, which is noise, not the
    program's memory use."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def _tree_rss(self) -> int:
        total = 0
        for pid in process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("RssAnon:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        return max(self.peak, self._tree_rss()) / 2**20
