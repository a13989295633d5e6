"""In-memory spans around the program's public entry points.

The traced run (``--trace 1``) patches each public function at the name
its caller looks it up by (a module global, a class attribute, or a
module attribute imported at call time) with a wrapper that records a
span: name, start, end, parent span, thread and phase. Nothing inside
the program changes; the spans come from this file alone. They stay in
memory until the run ends and are then written out as JSON lines.

Parents follow the calling thread's span stack. A span that opens on a
thread with no open span (a copy worker, a foreachBatch callback, an
HTTP handler thread) is adopted by the open span that carries the same
``key`` attribute, or else by the most recently opened span still open
on another thread.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self.phase = "setup"
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open: dict[int, dict] = {}
        self._patches: list[tuple[object, str, object]] = []

    # -- recording ----------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            parent = stack[-1] if stack else self._adopt(attrs.get("key"))
            rec = {
                "id": sid,
                "name": name,
                "parent": parent,
                "thread": threading.get_ident(),
                "phase": self.phase,
                "attrs": attrs,
                "t0": time.monotonic(),
                "t1": None,
            }
            self.spans.append(rec)
            self._open[sid] = rec
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["t1"] = time.monotonic()
            with self._lock:
                self._open.pop(sid, None)

    def _adopt(self, key) -> int | None:
        me = threading.get_ident()
        cands = [r for r in self._open.values() if r["thread"] != me]
        if key is not None:
            keyed = [r for r in cands if r["attrs"].get("key") == key]
            if keyed:
                return keyed[-1]["id"]
        return cands[-1]["id"] if cands else None

    def count(self, name: str, n: float = 1) -> None:
        """Add to counter ``<phase>:<name>``."""
        key = f"{self.phase}:{name}"
        with self._lock:
            self.counters[key] = self.counters.get(key, 0) + n

    # -- patching -----------------------------------------------------------
    def patch(self, owner, attr: str, wrapper_factory) -> None:
        """Replace ``owner.attr`` with ``wrapper_factory(original)``."""
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper_factory(orig))

    def wrap(self, owner, attr: str, name: str, attrs=None, on_result=None):
        """Span every call of ``owner.attr``. ``attrs(*a, **k)`` adds
        span attributes; ``on_result(rec, result)`` records outcomes."""

        def factory(orig):
            @functools.wraps(orig)
            def traced(*a, **k):
                with self.span(name, **(attrs(*a, **k) if attrs else {})) as rec:
                    out = orig(*a, **k)
                    if on_result is not None:
                        on_result(rec, out)
                    return out

            return traced

        self.patch(owner, attr, factory)

    def wrap_cm(self, owner, attr: str, name: str) -> None:
        """Span only the ENTER of a context manager factory (the time a
        caller waits to acquire it), not the block it guards."""

        def factory(orig):
            @functools.wraps(orig)
            @contextlib.contextmanager
            def traced(*a, **k):
                with contextlib.ExitStack() as stack:
                    with self.span(name):
                        stack.enter_context(orig(*a, **k))
                    yield

            return traced

        self.patch(owner, attr, factory)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- analysis -----------------------------------------------------------
    def closed(self, phase: str) -> list[dict]:
        """Finished spans of one phase."""
        return [s for s in self.spans if s["t1"] is not None and s["phase"] == phase]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals
        (clipped to the span)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["t1"] is not None:
                kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
        out = {}
        for s in self.spans:
            if s["t1"] is None:
                continue
            covered, end = 0.0, s["t0"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, end, s["t0"]), min(b, s["t1"])
                if b > a:
                    covered += b - a
                    end = b
            out[s["id"]] = (s["t1"] - s["t0"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")
            fh.write(json.dumps({"counters": self.counters}) + "\n")
