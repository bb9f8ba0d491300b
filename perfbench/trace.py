"""In-memory span recorder.

A span is (name, start, end, parent).  Spans are kept in a list while the
benchmark runs and written out once at the end.  A layer's self time is
its span's duration minus the time covered by its child spans, so nested
layers are never counted twice.
"""

from __future__ import annotations

import functools
import importlib
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list = []          # [name, start, end, parent_index]
        self._stack: list = []         # [span_index, child_seconds]
        self.self_s = defaultdict(float)
        self.total_s = defaultdict(float)
        self.calls = defaultdict(int)

    def _enter(self, name: str) -> None:
        parent = self._stack[-1][0] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent])
        self._stack.append([len(self.spans) - 1, 0.0])

    def _exit(self) -> None:
        end = time.perf_counter()
        idx, child = self._stack.pop()
        span = self.spans[idx]
        span[2] = end
        dur = end - span[1]
        self.self_s[span[0]] += dur - child
        self.total_s[span[0]] += dur
        self.calls[span[0]] += 1
        if self._stack:
            self._stack[-1][1] += dur

    @contextmanager
    def span(self, name: str):
        self._enter(name)
        try:
            yield
        finally:
            self._exit()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            self._enter(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._exit()
        return traced

    def patch(self, targets: dict) -> list:
        """Replace ``module:attr`` callables by traced wrappers, in place.
        ``targets`` maps 'module:attr' -> span name.  Returns the patched
        targets; names missing from the program are skipped (their span
        then reads zero, which the attributed share makes visible)."""
        done = []
        for target, name in targets.items():
            mod_name, attr = target.split(":")
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr, None)
            if fn is None:
                continue
            setattr(mod, attr, self.wrap(name, fn))
            done.append(target)
        return done

    @contextmanager
    def patched(self, targets: dict):
        """``patch`` for the duration of a with-block; the original
        callables are put back on exit."""
        saved = []
        for target in targets:
            mod_name, attr = target.split(":")
            mod = importlib.import_module(mod_name)
            saved.append((mod, attr, getattr(mod, attr, None)))
        self.patch(targets)
        try:
            yield
        finally:
            for mod, attr, fn in saved:
                if fn is not None:
                    setattr(mod, attr, fn)

    def records(self) -> list:
        return [{"name": n, "start": s, "end": e, "parent": p}
                for n, s, e, p in self.spans]
