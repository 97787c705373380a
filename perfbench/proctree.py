"""Process-tree helpers over /proc: peak resident memory and child reaping.

The benchmark process starts the Spark driver JVM, which starts the Python
worker daemon and its workers; all of them are descendants of this process.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of `root` (not including it)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces or ')': fields resume after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _resident_kb(pid: int) -> int:
    """Resident memory of one process.  Python processes report their
    proportional set size (forked Python workers share most pages with the
    worker daemon, so plain RSS would count those pages many times); the
    JVM reports plain RSS, which is cheaper to read and shares nothing."""
    try:
        with open(f"/proc/{pid}/comm", "rb") as f:
            comm = f.read().strip()
        if comm == b"java":
            with open(f"/proc/{pid}/statm", "rb") as f:
                return int(f.read().split()[1]) * _PAGE_KB
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1])
    except (OSError, IndexError, ValueError):
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Resident memory of the process tree under `root`, in MB."""
    return sum(_resident_kb(p) for p in [root, *descendants(root)]) / 1024.0


class RssSampler:
    """Samples the summed RSS of this process tree on a background thread
    and keeps the peak.  Use as a context manager."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def reap_children(timeout_s: float = 30.0) -> list[int]:
    """Wait for every descendant of this process to exit; SIGTERM, then
    SIGKILL, whatever is still alive at the deadline.  Returns the pids
    that had to be signalled."""
    import signal

    me = os.getpid()
    deadline = time.time() + timeout_s
    while _reap_zombies() or (descendants(me) and time.time() < deadline):
        time.sleep(0.2)
    signalled = descendants(me)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants(me):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.time() + 5
        while _reap_zombies() or (descendants(me) and time.time() < end):
            time.sleep(0.1)
    return signalled


def _reap_zombies() -> bool:
    """Collect exit statuses of exited direct children (so they leave
    /proc); True when at least one was collected."""
    reaped = False
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return reaped
        if pid == 0:
            return reaped
        reaped = True
