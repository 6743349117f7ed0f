"""The benchmark's process tree: peak resident memory and shutdown.

The tree is this driver process, the JVM it launches and the Python
worker daemon with its forked workers. Linux only (reads ``/proc``).
"""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb(root: int) -> dict[int, float]:
    """Resident set size in MB of ``root`` and each descendant (pages
    shared between forked workers count once per process)."""
    out = {}
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                out[pid] = int(f.read().split()[1]) * _PAGE_KB / 1024.0
        except OSError:
            continue
    return out


def _cmd(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ")[:60].decode(errors="replace")
    except OSError:
        return "?"


class RssSampler:
    """Samples the tree's RSS on a daemon thread. ``peak_mb`` is the
    largest total over processes seen in two consecutive samples, each
    at the smaller of its two readings: a process that exists for an
    instant — the child the JVM forks to spawn a worker briefly shows the
    JVM's whole address space — is not memory the run holds. Processes
    in ``exclude`` are left out (their descendants are not).
    ``peak_detail`` is the per-process split of the peak."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.exclude: set[int] = set()
        self.peak_mb = 0.0
        self.peak_detail: list[tuple[str, float]] = []
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        prev: dict[int, float] = {}
        while not self._stop.is_set():
            cur = tree_rss_mb(root)
            held = {pid: min(mb, prev[pid]) for pid, mb in cur.items()
                    if pid in prev and pid not in self.exclude}
            total = sum(held.values())
            if total > self.peak_mb:
                self.peak_mb = total
                self.peak_detail = [(_cmd(pid), mb)
                                    for pid, mb in sorted(held.items())]
            prev = cur
            self._stop.wait(self._interval)

    def describe(self) -> str:
        return ", ".join(f"{cmd.split(' -')[0]}={mb:.0f}MB"
                         for cmd, mb in self.peak_detail)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _reap_zombies() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def _wait_gone(root: int, timeout_s: float) -> list[int]:
    deadline = time.monotonic() + timeout_s
    while True:
        _reap_zombies()
        alive = descendants(root)
        if not alive or time.monotonic() >= deadline:
            return alive
        time.sleep(0.1)


def reap_descendants(timeout_s: float = 20.0) -> list[int]:
    """Wait for every descendant of this process to exit; SIGTERM, then
    SIGKILL, whatever is still alive after ``timeout_s``. Returns the
    pids that had to be signalled."""
    root = os.getpid()
    stragglers = _wait_gone(root, timeout_s)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants(root):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if not _wait_gone(root, 5.0):
            break
    return stragglers
