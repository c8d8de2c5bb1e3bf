"""In-memory span recorder for the traced run, installed from outside the
library by wrapping its public functions.  Spark-free, unit tested.

A span is ``(name, start, end, parent, op)``: ``parent`` is the index of
the enclosing span (-1 for an op's root) and ``op`` the id of the op it
belongs to.  Spans stay in memory and are written out when the run ends.
A span's self time is its duration minus the part its children cover.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent, op]
        self._stack: list[int] = []
        self.active = False
        self.installed = False  # wrappers are in place (the traced run)
        self.op = -1

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        rec = [name, 0.0, None, parent, self.op]
        self.spans.append(rec)
        self._stack.append(idx)
        rec[1] = time.perf_counter()
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def wrap(self, fn, name: str):
        """``fn`` recording a span named ``name`` around each call while
        the tracer is active."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch_function(self, module, attr: str, name: str, prefix: str) -> None:
        """Wrap ``module.attr`` and every already-imported module under
        ``prefix`` that bound the same function by name at import time."""
        orig = getattr(module, attr)
        wrapped = self.wrap(orig, name)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(prefix):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, wrapped)

    def patch_methods(self, cls, methods: list[str], layer: str) -> None:
        """Wrap plain instance methods of ``cls``."""
        for m in methods:
            setattr(cls, m, self.wrap(vars(cls)[m], f"{layer}.{m}"))

    # ---- analysis -------------------------------------------------------
    def self_times(self) -> list[float]:
        """Self time of every span, in seconds (children of a span never
        overlap: calls nest on one thread)."""
        own = [s[2] - s[1] for s in self.spans]
        for s in self.spans:
            if s[3] >= 0:
                own[s[3]] -= s[2] - s[1]
        return own

    def by_name(self) -> dict[str, dict]:
        """name -> {calls, total_s, self_s}."""
        out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        for s, own in zip(self.spans, self.self_times()):
            d = out[s[0]]
            d["calls"] += 1
            d["total_s"] += s[2] - s[1]
            d["self_s"] += own
        return dict(out)

    def layer_self(self) -> dict[str, float]:
        """Self seconds per layer (the span name's prefix before '.')."""
        out: dict[str, float] = defaultdict(float)
        for s, own in zip(self.spans, self.self_times()):
            out[s[0].split(".", 1)[0]] += own
        return dict(out)

    def dump(self, path: str) -> None:
        """One JSON object per span."""
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "i": i, "name": s[0], "start": s[1], "end": s[2],
                    "parent": s[3], "op": s[4],
                }) + "\n")
