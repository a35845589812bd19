"""In-memory span recording around the calls into each layer.

A span is (name, start, end, parent, wave_id). The traced run installs
wrappers on the layers' public functions (``Tracer.wrap``), keeps every span
in memory, and writes them out once the run ends. Self time of a span is its
duration minus the part of it that its direct children cover.

The crawl loop has no per-wave function to wrap, so wave spans are
synthesised afterwards: wave k runs from its ``select_wave`` call to the
next one (or to the end of its ``run_campaign``), and the campaign's other
direct children that start inside it are re-parented under it.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

WAVE = "scheduler.wave"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    wave_id: int | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.wave_id: int | None = None
        self._local = threading.local()  # per-thread stack of open spans
        self._lock = threading.Lock()  # append + index must not interleave
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, fn, *args, **kwargs):
        stack = self._stack()
        span = Span(name, time.perf_counter(), 0.0, stack[-1] if stack else None, self.wave_id)
        with self._lock:
            self.spans.append(span)
            stack.append(len(self.spans) - 1)
        try:
            return fn(*args, **kwargs)
        finally:
            span.end = time.perf_counter()
            stack.pop()

    def wrap(self, owner, attr: str, name, on_call=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. ``name`` is a
        string or a function of the call's arguments; ``on_call`` sees the
        arguments before the call (used to track the current wave id)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if on_call is not None:
                on_call(*args, **kwargs)
            label = name(*args, **kwargs) if callable(name) else name
            return self.call(label, orig, *args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def add_wave_spans(spans: list[Span], campaign: str, select: str) -> None:
    """Insert one WAVE span per ``select`` call under each ``campaign`` span
    and move the campaign's direct children that start inside a wave under
    that wave."""
    children = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent is not None:
            children[s.parent].append(i)
    for root in [i for i, s in enumerate(spans) if s.name == campaign]:
        kids = sorted(children[root], key=lambda i: spans[i].start)
        selects = [i for i in kids if spans[i].name == select]
        for k, sel in enumerate(selects):
            end = spans[selects[k + 1]].start if k + 1 < len(selects) else spans[root].end
            spans.append(Span(WAVE, spans[sel].start, end, root, spans[sel].wave_id))
            w = len(spans) - 1
            for i in kids:
                if spans[sel].start <= spans[i].start < end:
                    spans[i].parent = w


def self_times(spans: list[Span]) -> list[float]:
    """Duration minus the union of the direct children's intervals (clipped
    to the parent), per span."""
    children = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent is not None:
            children[s.parent].append(i)
    out = []
    for i, s in enumerate(spans):
        ivs = sorted(
            (max(spans[c].start, s.start), min(spans[c].end, s.end)) for c in children[i]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append(s.dur - covered)
    return out


def subtree_self_sum(spans: list[Span], selfs: list[float], root: int) -> float:
    """Sum of self times over ``root`` and all its descendants."""
    children = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent is not None:
            children[s.parent].append(i)
    total, todo = 0.0, [root]
    while todo:
        i = todo.pop()
        total += selfs[i]
        todo.extend(children[i])
    return total


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile with at least ``beyond`` samples above it, as
    (percentile, value); None below ``2 * beyond`` samples, where that
    percentile would be the median or lower."""
    n = len(samples)
    if n < 2 * beyond:
        return None
    xs = sorted(samples)
    return 100.0 * (n - beyond) / n, xs[n - beyond - 1]
