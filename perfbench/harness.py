"""Measurement arithmetic shared by every workload.

- `quartiles`: median and quartiles as `statistics.quantiles(n=4)` gives them.
- `ProcTree`: CPU seconds and RSS of a process and all its descendants,
  read from /proc. The tree here is the benchmark process, the Spark JVM it
  launches, the pyspark daemon and the Python workers. utime+stime of the
  live processes plus cutime+cstime (time of children they already reaped)
  makes a before/after difference exact even when workers exit in between.
- `RssPeak`: background sampler of the tree's summed RSS.
- `Tracer`: in-memory spans (name, start, end, parent) and their self time.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3); a single value is its own quartiles."""
    vals = [float(v) for v in values]
    if not vals:
        raise ValueError("quartiles of an empty sample")
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def summary(values: list[float]) -> dict:
    q1, med, q3 = quartiles(values)
    return {"median": med, "q1": q1, "q3": q3, "n": len(values)}


def _read_stat(pid: str) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes) of one pid,
    or None when the process vanished between listing and reading."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces or ')'
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    rss = int(fields[21]) * PAGE_SIZE
    return ppid, ticks / CLK_TCK, rss


class ProcTree:
    """The process tree rooted at `root` (default: this process)."""

    def __init__(self, root: int | None = None):
        self.root = root if root is not None else os.getpid()

    def _members(self) -> dict[int, tuple[int, float, int]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _read_stat(name)
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, _cpu, _rss) in stats.items():
            children.setdefault(ppid, []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out[pid] = stats[pid]
                todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        return sum(cpu for _p, cpu, _r in self._members().values())

    def rss_bytes(self) -> int:
        return sum(rss for _p, _c, rss in self._members().values())

    def descendants(self) -> list[int]:
        return [p for p in self._members() if p != self.root]


class RssPeak:
    """Samples the tree's summed RSS every `interval` seconds while open."""

    def __init__(self, tree: ProcTree, interval: float = 0.05):
        self.tree, self.interval = tree, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, self.tree.rss_bytes())
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.tree.rss_bytes())


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = sorted(
        (max(s, start), min(e, end)) for s, e in intervals if e > start and s < end
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Spans kept in memory; written out once with `dump`."""

    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, **attrs})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        sid = self.add(name, time.time(), float("nan"), parent, **attrs)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid: int) -> float:
        """Duration minus the part of it that child spans cover."""
        s = self.spans[sid]
        kids = [(c["start"], c["end"]) for c in self.children(sid)]
        return (s["end"] - s["start"]) - covered(s["start"], s["end"], kids)

    def self_times_by_name(self, root: int) -> dict[str, float]:
        """Self time summed per span name over the subtree under `root`."""
        out: dict[str, float] = {}
        todo = [root]
        while todo:
            sid = todo.pop()
            name = self.spans[sid]["name"]
            out[name] = out.get(name, 0.0) + self.self_time(sid)
            todo.extend(c["id"] for c in self.children(sid))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{**s, "self_s": self.self_time(s["id"])} for s in self.spans],
                      f, indent=1)
