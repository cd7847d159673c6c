"""Measurement helpers: percentiles, spans, host and memory counters.

Nothing here touches Spark, so the rules are unit-testable on their own.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples above it.

    Returns ``(value, percentile, n)``: the order statistic with exactly
    ``TAIL_BEYOND`` samples after it in sorted order, the share of samples at
    or below it (as a percentage) and the sample count. Raises when the
    run has too few samples to report any tail.
    """
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} samples: a tail needs more than {TAIL_BEYOND}")
    k = n - TAIL_BEYOND - 1
    return float(xs[k]), 100.0 * (k + 1) / n, n


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Spans recorded around calls into the engine's layers.

    Spans are kept in memory and written out once the run ends. A
    disabled tracer records nothing, so untraced runs pay only the
    method call.
    """

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)

    def add(self, name: str, start: float, end: float,
            parent: int | None = None) -> int | None:
        if not self.enabled:
            return None
        self.spans.append(Span(name, start, end, parent))
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str):
        """Time the block; yields the span id children can name as parent."""
        if not self.enabled:
            yield None
            return
        idx = self.add(name, time.time(), 0.0)
        try:
            yield idx
        finally:
            self.spans[idx].end = time.time()

    def self_times(self) -> list[float]:
        """Per span: its duration minus the time its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        return [s.dur - _covered(s, children.get(i, ()))
                for i, s in enumerate(self.spans)]

    def to_json(self) -> list[dict]:
        selfs = self.self_times()
        return [{"id": i, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "self": selfs[i]}
                for i, s in enumerate(self.spans)]


def _covered(span: Span, kids) -> float:
    """Length of the union of ``kids`` intervals clipped to ``span``."""
    ivs = sorted((max(k.start, span.start), min(k.end, span.end)) for k in kids)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def cpu_times() -> list[int]:
    """Aggregate ``cpu`` line of /proc/stat (user … steal, in ticks)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_fracs(before: list[int], after: list[int]) -> tuple[float, float]:
    """``(steal, busy)`` shares of all CPU time between two samples."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    idle, iowait, steal = d[3], d[4], d[7]
    return steal / total, (total - idle - iowait - steal) / total


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    ticks = int(fields[19])  # field 22 overall: starttime since boot
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except FileNotFoundError:
        return ""


def peak_rss_mb() -> tuple[float, float]:
    """Peak RSS (VmHWM) of this process and of its Spark JVM descendant.

    Forked Python workers are left out: they share most pages with their
    parent, so adding their RSS would count those pages again."""
    jvm, todo = 0, _children(os.getpid())
    while todo:
        pid = todo.pop()
        if _comm(pid) == "java":
            jvm += _peak_rss_kb(pid)
        else:
            todo += _children(pid)
    return _peak_rss_kb(os.getpid()) / 1024.0, jvm / 1024.0
