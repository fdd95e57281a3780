"""Spans, self time and the samplers the benchmark reads from outside
the engine: host noise, process-tree RSS.

A span has a name, start and end times (``time.perf_counter`` seconds)
and the index of the span that was open when it started. Spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict[str, object] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans when ``enabled``; otherwise ``span`` only
    yields, so traced and untraced passes run the same benchmark code.

    ``probe`` is read at both ends of every span and stored in its
    ``attrs`` as ``at_start``/``at_end``, so counts are taken at the same
    boundaries as the times."""

    def __init__(self, enabled: bool, probe: Callable[[], object] | None = None) -> None:
        self.enabled = enabled
        self.probe = probe
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs: object):
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        if self.probe is not None:
            attrs["at_start"] = self.probe()
        sp = Span(name, time.perf_counter(), parent=parent, attrs=attrs)
        self.spans.append(sp)
        self._open.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._open.pop()
            if self.probe is not None:
                sp.attrs["at_end"] = self.probe()


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    direct children cover (clipped to the parent, overlaps counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            p = spans[sp.parent]
            s, e = max(sp.start, p.start), min(sp.end, p.end)
            if e > s:
                children.setdefault(sp.parent, []).append((s, e))
    return [
        sp.duration - _covered(children.get(i, [])) for i, sp in enumerate(spans)
    ]


def host_probe() -> dict[str, float]:
    """Load average, the CPU time counters since boot, and the best of five
    single-threaded sha256 passes over 16 MiB. The hash is GIL-bound, so it
    slows only when the host's cores are contended, not when this process
    has threads running."""
    buf = b"\x5a" * (1 << 24)
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        hashlib.sha256(buf).digest()
        best = min(best, time.perf_counter() - t0)
    with open("/proc/stat") as f:
        # user nice system idle iowait irq softirq steal (guest time is
        # already inside user and nice)
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return {
        "load1": os.getloadavg()[0],
        "sha256_ms": best * 1000.0,
        "steal_ticks": ticks[7],
        "total_ticks": sum(ticks),
    }


# A run is flagged noisy when other guests of the hypervisor took more than
# this share of the CPU time while it ran, or when the sha256 probe slowed
# by more than this factor between the start and the end of the run. The
# load average is recorded but not used: a run's own Spark tasks keep it
# near the core count for a minute after they end, so back-to-back runs
# would all read as noisy.
NOISY_STEAL_SHARE = 0.05
NOISY_PROBE_FACTOR = 1.3


def steal_share(start: dict[str, float], end: dict[str, float]) -> float:
    """Share of CPU time between two probes that the hypervisor gave to
    other guests."""
    total = end["total_ticks"] - start["total_ticks"]
    return (end["steal_ticks"] - start["steal_ticks"]) / total if total else 0.0


def is_noisy(start: dict[str, float], end: dict[str, float]) -> bool:
    """Whether the host was contended between the two probes."""
    return (
        steal_share(start, end) > NOISY_STEAL_SHARE
        or end["sha256_ms"] > NOISY_PROBE_FACTOR * start["sha256_ms"]
    )


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces and parens; fields resume
        # after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out: list[int] = []
    stack = list(kids.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def tree_rss_bytes(pid: int) -> int:
    """Summed resident set of every descendant of ``pid`` (the Spark JVM
    and the Python workers it forks)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/statm", "rb") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


RSS_INTERVAL_S = 0.1


class RssSampler:
    """Background thread keeping the peak of ``tree_rss_bytes``, sampled
    every ``RSS_INTERVAL_S``."""

    def __init__(self) -> None:
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(pid))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
