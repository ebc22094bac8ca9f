"""Measurement primitives: summary statistics, in-memory spans with
self-time accounting, a process-tree RSS sampler and host attribution.

Nothing here imports Spark, so the self-tests run without a JVM.
"""

from __future__ import annotations

import functools
import os
import statistics
import threading
import time
from dataclasses import dataclass


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(values, q: float, min_beyond: int = 10) -> float | None:
    """The q-quantile (0 < q < 1) of ``values``, or None unless at least
    ``min_beyond`` samples lie strictly above it — a tail figure with
    fewer samples behind it is noise, not a percentile."""
    xs = sorted(values)
    if not xs:
        return None
    idx = min(len(xs) - 1, max(0, int(round(q * (len(xs) - 1)))))
    value = xs[idx]
    beyond = sum(1 for x in xs if x > value)
    return float(value) if beyond >= min_beyond else None


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    group: str  # the unit of work (a day, a query pass) the span belongs to

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
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
    """Spans kept in memory (name, start, end, parent) and written out
    once the run ends.  Disabled tracers record nothing and add no
    wrappers, so the untraced run executes the program as shipped."""

    def __init__(self, enabled: bool, clock=time.perf_counter):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self.group = ""
        self._stack: list[int] = []
        self._next = 0
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _open(self, name: str) -> tuple[int, int | None, float]:
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        return sid, parent, self.clock()

    def _close(self, sid: int, parent: int | None, name: str, start: float) -> None:
        end = self.clock()
        self._stack.pop()
        self.spans.append(Span(sid, name, start, end, parent, self.group))

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a spanned twin.  ``after(result)``
        runs inside the span and returns what the caller receives — the
        hook that forces a lazy DataFrame so its work lands in this
        layer's span instead of a later consumer's."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                result = orig(*args, **kwargs)
                return after(result) if after is not None else result

        self.patch(owner, attr, traced)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` until ``unwrap_all`` restores it."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_times(self, group: str | None = None) -> dict[str, float]:
        """Per span name: total duration minus the part of each span's
        interval that its child spans cover."""
        spans = [s for s in self.spans if group is None or s.group == group]
        children: dict[int, list[tuple[float, float]]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, float] = {}
        for s in spans:
            own = s.duration - _covered(children.get(s.sid, []))
            out[s.name] = out.get(s.name, 0.0) + own
        return out

    def top_level_total(self, group: str) -> float:
        return sum(s.duration for s in self.spans if s.group == group and s.parent is None)

    def dump(self) -> list[dict]:
        return [vars(s) for s in self.spans]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        if self.tracer.enabled:
            self.sid, self.parent, self.start = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        if self.tracer.enabled:
            self.tracer._close(self.sid, self.parent, self.name, self.start)
        return False


# -- process tree memory -----------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes split among them, so Python workers forked from one
    daemon are not counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def tree_rss_mb(root: int) -> dict[str, float]:
    """Resident memory (MB) of ``root`` ("driver"), its children (the
    driver JVM) and every deeper descendant (the JVM's Python workers)."""
    kids = _children_map()
    out = {"driver": _pss_kb(root) / 1024.0, "jvm": 0.0, "workers": 0.0}
    todo = [(pid, "jvm") for pid in kids.get(root, ())]
    while todo:
        pid, part = todo.pop()
        out[part] += _pss_kb(pid) / 1024.0
        todo.extend((child, "workers") for child in kids.get(pid, ()))
    return out


class RssSampler:
    """Background sampler of the process tree's resident memory; the
    peak is the largest sum seen."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self.parts_at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        parts = tree_rss_mb(os.getpid())
        total = sum(parts.values())
        if total > self.peak_mb:
            self.peak_mb, self.parts_at_peak = total, parts

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


# -- host attribution --------------------------------------------------------

def host_window(before: list[int] | None, after: list[int] | None) -> dict:
    """steal% and idle% of the box between two /proc/stat samples
    (tools/steal_probe.cpu_sample), with the load average and nproc."""
    out: dict = {"nproc": os.cpu_count(), "loadavg_1m": os.getloadavg()[0]}
    if before is not None and after is not None:
        delta = [b - a for a, b in zip(before, after)]
        total = sum(delta) or 1
        out["steal_pct"] = 100.0 * delta[7] / total
        out["idle_pct"] = 100.0 * (delta[3] + delta[4]) / total
    return out
