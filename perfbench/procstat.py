"""Process-tree and host readings from /proc.

The benchmark's process tree is this Python process, the Spark driver
JVM it launches and the Python workers the JVM forks. CPU time of that
tree, set against the busy CPU time of the whole host, shows how much
other load shared the machine during a measured op (the same method as
the frozen ``bench.py``); resident memory of the tree gives the peak
RSS metric.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _processes() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children, rss pages)."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                data = fh.read().decode("ascii", "replace")
        except OSError:
            continue  # exited mid-walk
        # comm may hold spaces and parens: fields start after the last ')'
        f = data[data.rindex(")") + 2:].split()
        ticks = sum(int(f[i]) for i in (11, 12, 13, 14))
        procs[int(d)] = (int(f[1]), ticks, int(f[21]))
    return procs


def _tree(procs: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _t, _r) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        if p in procs:
            out.append(p)
            stack.extend(children.get(p, []))
    return out


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    return [p for p in _tree(_processes(), root) if p != root]


def tree_cpu_s() -> float:
    procs = _processes()
    return sum(procs[p][1] for p in _tree(procs, os.getpid())) / _CLK


def tree_rss_mb() -> dict[str, float]:
    """RSS of the tree by kind of process: this one, the JVM and the
    Python workers the JVM started."""
    procs = _processes()
    me = os.getpid()
    out = {"driver_python": 0.0, "jvm": 0.0, "python_workers": 0.0}
    for p in _tree(procs, me):
        mb = procs[p][2] * _PAGE / (1 << 20)
        if p == me:
            out["driver_python"] += mb
        elif procs[p][0] == me or procs[procs[p][0]][0] == me:
            out["jvm"] += mb  # spark-submit's launcher shell and its JVM
        else:
            out["python_workers"] += mb
    return out


def host_cpu_s() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the whole host, all cores. Busy
    counts every process; steal is time the hypervisor gave to other
    guests while this one had work."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]] + [0] * 8
    idle, steal = vals[3] + vals[4], vals[7]  # idle + iowait
    return (sum(vals[:8]) - idle - steal) / _CLK, steal / _CLK


class CpuWindow:
    """CPU used by the tree, by every other process, and stolen by other
    guests, between start and stop."""

    def __init__(self) -> None:
        self.tree0, (self.busy0, self.steal0) = tree_cpu_s(), host_cpu_s()

    def stop(self) -> dict:
        busy, steal = host_cpu_s()
        tree = max(tree_cpu_s() - self.tree0, 0.0)
        return {
            "tree_cpu_s": round(tree, 3),
            "host_other_cpu_s": round(max(busy - self.busy0 - tree, 0.0), 3),
            "steal_cpu_s": round(steal - self.steal0, 3),
            "loadavg_1m": os.getloadavg()[0],
        }


class RssSampler:
    """Samples the tree's RSS on a background thread; ``peak_mb`` is the
    highest sample since the last ``reset`` and ``peak_parts`` its split
    by kind of process."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_parts: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            parts = tree_rss_mb()
            rss = sum(parts.values())
            if rss > self.peak_mb:
                self.peak_mb, self.peak_parts = rss, parts

    def reset(self) -> None:
        self.peak_parts = tree_rss_mb()
        self.peak_mb = sum(self.peak_parts.values())

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def reap_tree(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait for every pid to exit; TERM, then KILL, whatever outlives
    the timeout."""
    deadline = time.monotonic() + timeout_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in pids:
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
            deadline = time.monotonic() + 5.0
        while time.monotonic() < deadline:
            pids = [p for p in pids if _alive(p)]
            if not pids:
                return
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)  # reap our own zombie children
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            state = fh.read().rsplit(b")", 1)[1].split()[0]
        return state != b"Z"
    except OSError:
        return False
