"""Process-tree bookkeeping from /proc: resident memory and leftovers.

The run's Spark JVM and its Python workers are descendants of the
benchmark process. A sampler thread sums their resident set sizes and
remembers every process it has seen, so that at exit the run can wait
for each one to end, even after it was re-parented away from the tree.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_MB = float(1 << 20)


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, start time in clock ticks) of a live process, else None.
    A zombie counts as ended: it holds no memory and runs no code."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    if fields[0] == "Z":
        return None
    return int(fields[1]), int(fields[19])


def process_start_seconds_ago() -> float:
    """Seconds since this process started, read from its /proc entry."""
    start_ticks = _stat(os.getpid())[1]
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def hwm_mb(pid: int) -> float:
    """Peak resident size (VmHWM) of one process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024 / _MB
    except OSError:
        pass
    return 0.0


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


class TreeSampler:
    """Samples the resident memory of this process's descendants."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self.python_peak_mb = 0.0
        self.seen: dict[int, int] = {}  # pid -> start ticks
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def start(self) -> None:
        self._thread.start()

    def sample(self) -> None:
        total = python = 0
        for pid in descendants(os.getpid()):
            st = _stat(pid)
            if st is None:
                continue
            self.seen.setdefault(pid, st[1])
            rss = _rss_bytes(pid)
            total += rss
            if "python" in _cmdline(pid).split(" ", 1)[0]:
                python += rss
        self.peak_mb = max(self.peak_mb, total / _MB)
        self.python_peak_mb = max(self.python_peak_mb, python / _MB)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def survivors(self) -> list[int]:
        """Processes seen during the run that are still alive (same pid and
        start time, so a recycled pid is not mistaken for a survivor)."""
        out = []
        for pid, start in self.seen.items():
            st = _stat(pid)
            if st is not None and st[1] == start:
                out.append(pid)
        return out

    def reap(self, timeout: float) -> list[int]:
        """Wait up to ``timeout`` s for every seen process to end, then
        SIGKILL what is left and wait for that too. Returns the pids that
        had to be killed."""
        deadline = time.monotonic() + timeout
        while self.survivors() and time.monotonic() < deadline:
            time.sleep(0.1)
        killed = self.survivors()
        for pid in killed:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while self.survivors() and time.monotonic() < deadline:
            time.sleep(0.05)
        return killed
