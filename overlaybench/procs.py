"""Process-tree accounting from /proc: CPU seconds, resident memory,
and stopping what a run started.

The Spark driver JVM is a child of the benchmark process and the
Python workers are children of the JVM, so "the program" is the tree
rooted at this process.
"""

from __future__ import annotations

import json
import os
import signal
import threading
import time
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if
    the process is gone."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Every live process below ``root``."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        st = _stat(int(entry))
        if st is not None:
            kids.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and its live descendants,
    including the children each of them has already reaped."""
    total = 0
    for pid in [root, *descendants(root)]:
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def tree_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            total += int(Path(f"/proc/{pid}/statm").read_text().split()[1])
        except (OSError, IndexError):
            pass
    return total * _PAGE / 2**20


class PeakRss:
    """Samples the resident memory of the tree below ``root`` in a
    background thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, root: int, every_s: float = 0.1):
        self.root, self.every_s, self.peak_mb = root, every_s, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pids, listed = [self.root], 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - listed > 1.0:  # re-list the tree once a second
                pids, listed = [self.root, *descendants(self.root)], now
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pids))
            self._stop.wait(self.every_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _start_time(pid: int) -> str | None:
    st = _stat(pid)
    return None if st is None else st[19]  # starttime, stat field 22


def record(pid_file: Path, root: int) -> None:
    """Remember the tree below ``root`` so that a later run can stop
    whatever this one leaves behind if it is killed."""
    starts = {p: _start_time(p) for p in descendants(root)}
    pid_file.write_text(json.dumps(
        [[p, start] for p, start in starts.items() if start]))


def stop(pids: list[int], timeout_s: float = 10.0) -> None:
    """SIGTERM, then SIGKILL after ``timeout_s``; returns when every
    pid is gone (reaping our own children on the way)."""
    for sig, wait in ((signal.SIGTERM, timeout_s), (signal.SIGKILL, 5.0)):
        live = [p for p in pids if _alive(p)]
        for p in live:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while live and time.monotonic() < deadline:
            live = [p for p in live if _alive(p)]
            time.sleep(0.05)
        if not live:
            return


def _alive(pid: int) -> bool:
    try:
        done, _ = os.waitpid(pid, os.WNOHANG)
        if done == pid:
            return False
    except ChildProcessError:
        pass
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def reap_recorded(pid_file: Path) -> int:
    """Stop the processes an earlier run recorded that are still alive
    (matched by pid and start time, so a reused pid is left alone).
    Returns how many were stopped."""
    if not pid_file.exists():
        return 0
    left = [p for p, start in json.loads(pid_file.read_text())
            if _start_time(p) == start]
    stop(left)
    pid_file.unlink()
    return len(left)
