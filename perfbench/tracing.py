"""In-memory span tracer for the benchmark's traced run.

Spans are recorded by wrapping a program function at the attribute its
caller resolves (a module global or a class attribute), so the program
itself carries no tracing code. A span's self time is its duration minus
the durations of its direct child spans; all spans of one traced run are
kept in memory and reduced when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        # [name, start, end, parent index]
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    def _open(self, name: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), 0.0, parent])
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self._stack.pop()
        self.spans[idx][2] = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a traced twin until ``unwrap_all``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            idx = self._open(name)
            try:
                return orig(*args, **kwargs)
            finally:
                self._close(idx)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def totals(self) -> dict[str, dict[str, float]]:
        """name -> {"count", "total_s", "self_s"} over every recorded span."""
        child_s = [0.0] * len(self.spans)
        for name, start, end, parent in self.spans:
            if parent >= 0:
                child_s[parent] += end - start
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"count": 0, "total_s": 0.0, "self_s": 0.0}
        )
        for i, (name, start, end, _parent) in enumerate(self.spans):
            agg = out[name]
            agg["count"] += 1
            agg["total_s"] += end - start
            agg["self_s"] += end - start - child_s[i]
        return dict(out)
