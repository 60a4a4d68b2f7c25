"""Process-tree CPU and memory from /proc, and the host-drift CPU probe.

The Spark JVM is a child of the benchmark's Python process and the Python
workers are children of the JVM, so that process's tree covers every
process a run starts.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / _TICK


class PeakRss:
    """Samples the tree's resident memory every ``interval`` seconds while
    armed; ``peak_mb`` is the largest sample taken while armed."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._armed = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def arm(self, on: bool) -> None:
        if on:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._armed.set()
        else:
            self._armed.clear()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self._armed.is_set():
                self.peak = max(self.peak, tree_rss_bytes(self.root))

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


# one probe process: spin ``warm`` seconds untimed, then count 10k-iteration
# loops for ``secs`` and print the count (inside a function, so the loop
# variables are fast locals)
_BURN = """
import sys, time


def burn(secs, warm):
    t_end = time.time() + warm
    while time.time() < t_end:
        pass
    t_end = time.time() + secs
    n = 0
    while time.time() < t_end:
        x = 0
        for i in range(10000):
            x += i * i
        n += 1
    return n


print(burn(float(sys.argv[1]), float(sys.argv[2])))
"""


def burn_mops(procs: int, secs: float = 0.5, warm: float = 0.5) -> float:
    """Pure-CPU probe: ``procs`` processes each count 10k-iteration loops
    for ``secs``; returns loop iterations per second, in millions, summed.
    Same method as ``tools/bench_scaling_fair.py``'s fairness gate, shortened, after
    ``warm`` seconds of untimed spinning: a probe on an idle host reads
    about half speed for its first second. Plain child processes, each
    waited for, so nothing (such as multiprocessing's resource tracker)
    outlives the probe."""
    ps = []
    try:
        for _ in range(procs):
            ps.append(
                subprocess.Popen(
                    [sys.executable, "-c", _BURN, str(secs), str(warm)],
                    stdout=subprocess.PIPE,
                    stdin=subprocess.DEVNULL,
                    text=True,
                )
            )
        total = sum(int(p.communicate(timeout=secs + warm + 60)[0]) for p in ps)
    finally:
        for p in ps:
            if p.poll() is None:
                p.kill()
            p.wait()
    return total * 10000 / secs / 1e6
