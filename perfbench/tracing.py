"""In-memory spans and counters recorded around calls into the engine.

Spans are recorded from the benchmark's side only: either around a call
the benchmark makes, or by temporarily replacing a module attribute of
the engine with a wrapper (:meth:`Tracer.patched`), which catches calls
the engine makes through that attribute. The engine's code is not
changed. Spans stay in memory and are written out once, at the end.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import Counter, defaultdict
from typing import Callable, Iterator, Optional


class Tracer:
    """Span recorder for one thread. A disabled tracer records nothing
    and adds one attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        # (id, parent id or -1, name, start, end)
        self.spans: list[tuple[int, int, str, float, float]] = []
        self.counts: Counter = Counter()
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((sid, parent, name, time.perf_counter(), 0.0))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s = self.spans[sid]
            self.spans[sid] = (s[0], s[1], s[2], s[3], time.perf_counter())

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    @contextlib.contextmanager
    def patched(
        self,
        targets: list[tuple[object, str, str, Optional[Callable]]],
    ) -> Iterator[None]:
        """Wrap ``module.attr`` in a span named ``name`` for the duration;
        ``on_result(tracer, args, result)`` may record counts. Restores
        the original attributes on exit."""
        saved = []
        try:
            for module, attr, name, on_result in targets:
                orig = getattr(module, attr)
                saved.append((module, attr, orig))
                setattr(module, attr, self._wrap(orig, name, on_result))
            yield
        finally:
            for module, attr, orig in reversed(saved):
                setattr(module, attr, orig)

    def _wrap(self, fn: Callable, name: str, on_result: Optional[Callable]):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
            if on_result is not None and self.enabled:
                on_result(self, args, result)
            return result

        return wrapper

    # ---------------------------------------------------------- reading
    def total_s(self, name: str) -> float:
        return sum(e - s for _, _, n, s, e in self.spans if n == name)

    def self_s(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its direct
        children cover (children of one span never overlap: one thread)."""
        child_s: dict[int, float] = defaultdict(float)
        for _, parent, _, s, e in self.spans:
            if parent >= 0:
                child_s[parent] += e - s
        out: dict[str, float] = defaultdict(float)
        for sid, _, name, s, e in self.spans:
            out[name] += (e - s) - child_s[sid]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {"id": i, "parent": p, "name": n, "start": s, "end": e}
                        for i, p, n, s, e in self.spans
                    ],
                    "counts": dict(self.counts),
                    "self_s": self.self_s(),
                },
                f,
            )
