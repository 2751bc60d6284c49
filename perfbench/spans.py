"""In-memory span and count recorder for the traced run.

Spans are recorded from the benchmark's side only: ``Tracer.wrap``
replaces a public function of a program layer with a timing wrapper for
the duration of the run (``Tracer.restore`` puts the originals back).
A span holds its name, layer, start, end, the span that was open on the
same thread when it began (its parent) and the request it belongs to
(one record operation, one micro-batch or one gate). Nothing is written
until ``Tracer.write`` at the end of the run.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import Counter, defaultdict


class Tracer:
    def __init__(self):
        # (span_id, parent_id, request_id, name, layer, start, end)
        self.spans: list[tuple] = []
        self.counts: Counter = Counter()
        self.request_id = 0
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._patched: list[tuple] = []
        # innermost open span id per name, across threads
        self._open: dict[str, int] = {}

    # -- recording --------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def current(self) -> str | None:
        """Name of the innermost open span on this thread."""
        st = self._stack()
        return st[-1][1] if st else None

    def call(self, name: str, layer: str, fn, /, *args, **kwargs):
        st = self._stack()
        return self._record(name, layer, st[-1][0] if st else 0, fn,
                            args, kwargs)

    def call_under(self, parent_name: str, name: str, layer: str, fn,
                   *args):
        """Like ``call``, parented to the open span ``parent_name`` of
        another thread (a streaming micro-batch body runs on a callback
        thread while ``run_available`` waits on the caller's)."""
        return self._record(name, layer, self._open.get(parent_name, 0),
                            fn, args, {})

    def _record(self, name, layer, parent, fn, args, kwargs):
        st = self._stack()
        sid = next(self._ids)
        st.append((sid, name))
        outer = self._open.get(name)
        self._open[name] = sid
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            st.pop()
            if outer is None:
                self._open.pop(name, None)
            else:
                self._open[name] = outer
            self.spans.append(
                (sid, parent, self.request_id, name, layer, t0, t1))

    def wrap(self, owner, attr: str, name: str, layer: str,
             after=None) -> None:
        """Time every call of ``owner.attr``; ``after(args, result)``
        runs once the call returns, outside the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            result = tracer.call(name, layer, orig, *args, **kwargs)
            if after is not None:
                after(args, result)
            return result

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- reading ----------------------------------------------------------
    def durations_ms(self, name: str) -> list[float]:
        return [(s[6] - s[5]) * 1e3 for s in self.spans if s[3] == name]

    def busy_s(self, name: str) -> float:
        return sum(s[6] - s[5] for s in self.spans if s[3] == name)

    def self_times_s(self) -> dict[str, float]:
        """Per layer: span durations minus the time their direct child
        spans cover (children on one thread never overlap)."""
        child = defaultdict(float)
        for s in self.spans:
            if s[1]:
                child[s[1]] += s[6] - s[5]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s[4]] += (s[6] - s[5]) - child[s[0]]
        return dict(out)

    def wrapper_cost_s(self, calls: int = 20000) -> float:
        """Measured cost of one traced call over a bare call, used to
        estimate how much time the wrappers themselves added."""
        def nop():
            return None

        t0 = time.perf_counter()
        for _ in range(calls):
            nop()
        bare = time.perf_counter() - t0
        saved, self.spans = self.spans, []
        t0 = time.perf_counter()
        for _ in range(calls):
            self.call("calibrate", "calibrate", nop)
        traced = time.perf_counter() - t0
        self.spans = saved
        return max(0.0, (traced - bare) / calls)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s[0], "parent": s[1], "request": s[2],
                    "name": s[3], "layer": s[4],
                    "start": round(s[5], 7), "end": round(s[6], 7),
                }) + "\n")
            fh.write(json.dumps({"counts": dict(self.counts)}) + "\n")
