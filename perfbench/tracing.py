"""In-memory spans and counters for the traced run.

A span records ``(id, name, op, parent, start, end)`` plus the deltas of
a set of cumulative counters taken at its two boundaries. Spans stay in
memory and are written out once, when the run ends.

Wrappers are installed where the caller looks a function up (on the
class for methods, in every module that imported the name for
functions), and record only while ``Tracer.enabled`` is set, so a
traced run can alternate traced and untraced cycles and report the
tracing overhead between the two.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

from stats import covered


class Tracer:
    def __init__(self, counters=None, clock=time.perf_counter):
        # ``counters()`` returns a dict of cumulative values; spans keep
        # the delta between their start and end
        self.counters = counters or (lambda: {})
        self.clock = clock
        self.spans: list[dict] = []
        self.enabled = False
        self.op_id: str | None = None
        self._stack: list[int] = []
        self._restore: list = []

    @contextmanager
    def span(self, name: str, probe=None):
        before = dict(self.counters())
        if probe is not None:
            before.update(probe())
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": self.clock(),
            "end": None,
            "counters": {},
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = self.clock()
            self._stack.pop()
            after = dict(self.counters())
            if probe is not None:
                after.update(probe())
            rec["counters"] = {k: v - before.get(k, 0) for k, v in after.items()}

    @contextmanager
    def op(self, op_id: str, name: str):
        """One benchmark operation: the root span of its call tree."""
        prev, self.op_id = self.op_id, op_id
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            self.op_id = prev

    # -- wrappers ----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, probe=None) -> None:
        """Replace ``owner.attr`` by a recording wrapper; ``probe(args)``
        optionally adds cumulative counters read around the call."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        binder = type(raw) if isinstance(raw, (classmethod, staticmethod)) else None
        fn = raw.__func__ if binder else raw
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name, None if probe is None else (lambda: probe(args))):
                return fn(*args, **kwargs)

        self.patch(owner, attr, binder(traced) if binder else traced)

    def patch(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` until :meth:`unwrap_all` restores it."""
        self._restore.append((owner, attr, owner.__dict__[attr] if isinstance(owner, type)
                              else getattr(owner, attr)))
        setattr(owner, attr, new)

    def unwrap_all(self) -> None:
        while self._restore:
            owner, attr, raw = self._restore.pop()
            setattr(owner, attr, raw)

    # -- analysis ----------------------------------------------------------

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that direct children cover."""
        kids = [(c["start"], c["end"]) for c in self.children(span["id"])]
        return (span["end"] - span["start"]) - covered(kids, span["start"], span["end"])

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)
