"""Process-tree accounting from /proc: descendants, peak resident memory,
CPU time, and the host's steal share."""

from __future__ import annotations

import os
import threading

TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                state, ppid = fh.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, ValueError):
            continue
        if state != "Z":  # an exited child awaiting its parent's wait() is gone
            out.setdefault(int(ppid), []).append(int(d))
    return out


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of this process plus every descendant (the JVM
    and the Python workers), sampled from /proc.  Each process counts its
    proportional share (PSS) of the pages it shares, so forked Python workers
    do not count their parent's pages again."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval, self.peak = interval, 0
        self.peak_parts: dict[str, int] = {}  # bytes by process name at the peak
        self._halt = threading.Event()

    def sample(self) -> None:
        parts: dict[str, int] = {}
        for p in [os.getpid()] + descendants(os.getpid()):
            try:
                with open(f"/proc/{p}/comm") as fh:
                    name = fh.read().strip()
                with open(f"/proc/{p}/smaps_rollup") as fh:
                    pss = next(int(ln.split()[1]) for ln in fh if ln.startswith("Pss:"))
            except (OSError, StopIteration, ValueError):
                continue
            parts[name] = parts.get(name, 0) + pss * 1024
        total = sum(parts.values())
        if total > self.peak:
            self.peak, self.peak_parts = total, parts

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process, its live
    descendants, and the children they have reaped."""
    total = 0
    for p in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / TICK


def host_ticks() -> tuple[int, int]:
    """(steal ticks, all ticks) of the host's CPUs since boot."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])
