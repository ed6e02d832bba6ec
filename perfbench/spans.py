"""In-memory spans recorded around calls into the engine's layers.

Wrappers are installed from outside the package: each target function
is replaced by a wrapper on its defining module or class, and every
other loaded module attribute that aliases it (``from x import f``,
``f as _f``) is rebound too, so calls that go through an alias are
recorded as well. ``uninstall`` puts every original back.

A span records name, start, end, parent span and the trace id (one per
benchmark pass). Spans stay in memory until ``dump``. A layer's self
time is its span's duration minus the part its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    trace_id: int
    span_id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.trace_id = 0
        self.enabled = False
        self._stack: list[Span] = []
        self._installed: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(self.trace_id, len(self.spans), parent, name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self, owner, attr: str, name: str, alias_prefix: str) -> None:
        """Wrap ``owner.attr`` as span ``name`` and rebind every
        attribute of a loaded module under ``alias_prefix`` that is the
        same object."""
        original = getattr(owner, attr)
        wrapper = self.wrap(name, original)
        self._rebind(owner, attr, wrapper)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(alias_prefix):
                continue
            for key, val in list(vars(mod).items()):
                if val is original and (mod, key) != (owner, attr):
                    self._rebind(mod, key, wrapper)

    def _rebind(self, owner, attr: str, new) -> None:
        self._installed.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._installed):
            setattr(owner, attr, original)
        self._installed.clear()

    def self_times(self, trace_id: int) -> dict[str, list[float]]:
        """name -> self time of each span of that name in one trace."""
        spans = [s for s in self.spans if s.trace_id == trace_id]
        children: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, list[float]] = defaultdict(list)
        for s in spans:
            covered, reach = 0.0, s.start
            for c in sorted(children[s.span_id], key=lambda c: c.start):
                lo, hi = max(c.start, reach), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s.name].append(s.end - s.start - covered)
        return out

    def outermost(self, trace_id: int, names: set[str]) -> list[Span]:
        """Spans of one trace named in ``names`` whose ancestors are not."""
        by_id = {s.span_id: s for s in self.spans}
        out = []
        for s in self.spans:
            if s.trace_id != trace_id or s.name not in names:
                continue
            p = s.parent
            while p is not None and by_id[p].name not in names:
                p = by_id[p].parent
            if p is None:
                out.append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([vars(s) for s in self.spans], fh)
