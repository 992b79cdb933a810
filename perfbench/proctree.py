"""Process-tree CPU and memory sampler over ``/proc``.

Sums user+system CPU over a root process and every descendant, split by
kind: ``driver`` (the root Python), ``jvm`` (the Spark JVM it launches)
and ``pyworker`` (the pyspark daemon and its forked workers, plus any
other Python children). Children that already exited are counted through
their parent's ``cutime``/``cstime`` once reaped, so a snapshot total
stays continuous while workers come and go. A background thread polls
the tree for the peak resident set size.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
KINDS = ("driver", "jvm", "pyworker", "other")


def _stat(pid: int):
    """(ppid, self_cpu_s, reaped_children_cpu_s, rss_bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces or parens: split after the last ')'
    rest = raw[raw.rfind(b")") + 2:].split()
    ppid = int(rest[1])
    ut, st, cut, cst = (int(x) for x in rest[11:15])
    rss = int(rest[21]) * _PAGE
    return ppid, (ut + st) / _TICK, (cut + cst) / _TICK, rss


def _kind(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        return "other"
    if b"java" in cmd.split(b"\0", 1)[0]:
        return "jvm"
    if b"python" in cmd:
        return "pyworker"
    return "other"


class ProcTree:
    def __init__(self, root: int | None = None, interval: float = 0.2):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak_rss = 0
        self._kinds: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _tree(self) -> dict[int, tuple]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                s = _stat(int(name))
                if s is not None:
                    stats[int(name)] = s
        kids: dict[int, list[int]] = {}
        for pid, s in stats.items():
            kids.setdefault(s[0], []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out[pid] = stats[pid]
                todo.extend(kids.get(pid, ()))
        return out

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds of the tree by kind, and ``total``."""
        out = dict.fromkeys(KINDS, 0.0)
        for pid, (_pp, own, reaped, _rss) in self._tree().items():
            kind = self._kinds.get(pid)
            if kind is None:
                kind = self._kinds[pid] = _kind(pid, self.root)
            out[kind] += own
            # a pyspark daemon reaps its own workers; what the root reaps
            # (action scripts, or the JVM once it shut down) is "other"
            out["other" if pid == self.root else kind] += reaped
        out["total"] = sum(out[k] for k in KINDS)
        return out

    def rss(self) -> int:
        return sum(s[3] for s in self._tree().values())

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_rss = max(self.peak_rss, self.rss())

    def __enter__(self) -> "ProcTree":
        self.peak_rss = self.rss()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()


def cpu_delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}
