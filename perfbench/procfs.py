"""Process-tree accounting from ``/proc``: resident memory sampled in a
background thread, CPU time read at stage boundaries, and a shutdown
helper that waits for every descendant to end.

The tree is this process's descendants: the Spark driver JVM and the
Python daemon and workers it forks.  The benchmark's own interpreter is
left out, so its bookkeeping never counts as pipeline memory or CPU.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(comm, ppid, state, cpu_ticks incl. reaped children) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split at the LAST ')'
    lp, rp = raw.index("("), raw.rindex(")")
    comm = raw[lp + 1:rp]
    rest = raw[rp + 2:].split()
    state, ppid = rest[0], int(rest[1])
    ticks = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
    return comm, ppid, state, ticks


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def descendants() -> dict:
    """pid -> (comm, state, cpu_ticks) for every descendant of this process."""
    info = {}
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        comm, ppid, state, ticks = st
        info[int(name)] = (comm, state, ticks)
        children.setdefault(ppid, []).append(int(name))
    out, todo = {}, list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        if pid in info:
            out[pid] = info[pid]
            todo.extend(children.get(pid, []))
    return out


def _is_python(comm: str) -> bool:
    return comm.startswith("python") or comm.startswith("pyspark")


def cpu_seconds() -> dict:
    """Cumulative CPU of the tree split by side: {'jvm': s, 'python': s}.
    Reaped workers stay counted through their parent's cutime, so a
    difference of two readings is the CPU spent in between."""
    out = {"jvm": 0.0, "python": 0.0}
    for comm, _, ticks in descendants().values():
        out["python" if _is_python(comm) else "jvm"] += ticks / _TICK
    return out


class RssSampler:
    """Peak summed RSS of the tree (and of its Python workers alone),
    sampled every ``interval`` seconds until ``close``."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self._lock = threading.Lock()
        self._peak = self._peak_py = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        while not self._stop.is_set():
            total = py = 0
            for pid, (comm, state, _) in descendants().items():
                if state == "Z":
                    continue
                rss = _rss_bytes(pid)
                total += rss
                if _is_python(comm):
                    py += rss
            with self._lock:
                self._peak = max(self._peak, total)
                self._peak_py = max(self._peak_py, py)
            self._stop.wait(self.interval)

    def reset(self) -> None:
        with self._lock:
            self._peak = self._peak_py = 0

    def peaks_mb(self) -> tuple:
        """(tree peak, python-worker peak) in MB since the last reset."""
        time.sleep(self.interval * 2)  # let one more sample land
        with self._lock:
            return self._peak / 1e6, self._peak_py / 1e6

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def wait_gone(pids, timeout: float = 30.0) -> list:
    """Wait until every pid has exited (or is a zombie); SIGKILL the rest
    at the deadline.  Returns the pids that had to be killed."""
    import signal

    deadline = time.monotonic() + timeout
    pending = set(pids)
    while pending and time.monotonic() < deadline:
        pending = {p for p in pending
                   if (st := _stat(p)) is not None and st[2] != "Z"}
        if pending:
            time.sleep(0.1)
    for p in pending:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return sorted(pending)
