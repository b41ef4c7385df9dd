"""Machine probes: a pure-Python single-core control loop and a sampler of
the resident memory of this process and all its descendants (driver, JVM,
Python workers), read from /proc."""

from __future__ import annotations

import os
import threading
import time


def control_loop_s(n: int = 3_000_000) -> float:
    """Seconds for ``n`` dependent integer operations on one core. No Spark,
    no numpy: a later run that reads slow here ran on a slower clock, not
    on slower code."""
    x = 0
    t0 = time.perf_counter()
    for i in range(n):
        x = (x * 1103515245 + 12345 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed VmRSS of ``root`` and every descendant."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class PeakRss:
    """Background sampler of the process tree's summed RSS; ``peak_mb`` is
    the largest sum seen since the last :meth:`reset`. Use as a context
    manager so the thread always stops."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.interval_s)

    def reset(self) -> None:
        self.peak = 0

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20



def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    kids, out, todo = _children(), [], [root]
    while todo:
        found = kids.get(todo.pop(), [])
        out += found
        todo += found
    return out


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until none of ``pids`` is alive; kill what outlives the
    timeout. Zombies count as gone (their parent reaps them)."""
    def alive(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            return False
        return stat[stat.rindex(b")") + 2:].split()[0] != b"Z"

    deadline = time.time() + timeout_s
    while any(alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)
    for pid in pids:
        if alive(pid):
            try:
                os.kill(pid, 9)
            except OSError:
                pass
