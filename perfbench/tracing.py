"""Span tracing around the package's public functions.

A traced run installs wrappers (``Tracer.wrap``) on the functions and
methods a workload calls into; each call records a span — name, start,
end, parent span and run id — in memory. ``Tracer.write`` saves the
spans as JSON lines when the run ends, and ``self_times`` gives each
span name's self time: its duration minus the part covered by its
child spans. Untraced runs install nothing, so their timings carry no
tracing cost.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    thread: int


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[Any, str, Any]] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        span_id = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(span_id)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    Span(span_id, name, start, end, parent, self.run_id, threading.get_ident())
                )

    def traced(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        wrapper.__perfbench_original__ = fn  # type: ignore[attr-defined]
        return wrapper

    def wrap(self, owner: Any, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.

        For a module-level function, every already-imported module of
        the package that bound the same function object by name
        (``from x import f``) is patched too, so calls through those
        names are traced as well."""
        original = getattr(owner, attr)
        wrapper = self.traced(name, original)
        targets = [(owner, attr)]
        if not isinstance(owner, type):
            for mod_name, mod in list(sys.modules.items()):
                if mod is owner or not mod_name.startswith("parquet_stream_writer_spark"):
                    continue
                for key, value in list(vars(mod).items()):
                    if value is original:
                        targets.append((mod, key))
        for target, key in targets:
            self._patched.append((target, key, getattr(target, key)))
            setattr(target, key, wrapper)

    def restore(self) -> None:
        """Undo every ``wrap`` (latest first)."""
        for target, key, value in reversed(self._patched):
            setattr(target, key, value)
        self._patched.clear()

    # -- analysis -----------------------------------------------------------

    def totals(self) -> dict[str, tuple[int, float, float]]:
        """name -> (calls, inclusive seconds, self seconds)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, list] = defaultdict(lambda: [0, 0.0, 0.0])
        for s in self.spans:
            dur = s.end - s.start
            row = out[s.name]
            row[0] += 1
            row[1] += dur
            row[2] += max(0.0, dur - child_time.get(s.span_id, 0.0))
        return {k: (v[0], v[1], v[2]) for k, v in out.items()}

    def self_time(self, name: str) -> float:
        return self.totals().get(name, (0, 0.0, 0.0))[2]

    def calls(self, name: str) -> int:
        return self.totals().get(name, (0, 0.0, 0.0))[0]

    def outermost_time(self, name: str) -> float:
        """Inclusive time of ``name`` spans not nested in another span
        of the same name (recursive or re-entrant calls count once)."""
        by_id = {s.span_id: s for s in self.spans}
        total = 0.0
        for s in self.spans:
            if s.name != name:
                continue
            p = s.parent
            nested = False
            while p is not None:
                ps = by_id.get(p)
                if ps is None:
                    break
                if ps.name == name:
                    nested = True
                    break
                p = ps.parent
            if not nested:
                total += s.end - s.start
        return total

    def write(self, path: Path) -> None:
        with path.open("w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")
