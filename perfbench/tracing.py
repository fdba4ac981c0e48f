"""Spans around calls into the package's layers, recorded from the benchmark.

While a :class:`Tracer` is installed, every public function listed by
``adapter.layer_modules()`` is replaced on its module (or class) by a wrapper
that records a span: name, layer, start, end, parent span and run id. Spans
stay in memory until the run writes its record. Uninstalling restores the
original functions.

Only driver-side calls are seen. A wrapper that Spark ships to an executor
inside a closure pickles as the original function, so executors run the
package unmodified; their numbers come from the counters the package writes.
"""

from __future__ import annotations

import functools
import sys
import threading
import time


class _Traced:
    """Callable stand-in for a module-level function; pickles as the
    original so closures shipped to executors carry no tracer."""

    def __init__(self, tracer: "Tracer", layer: str, fn):
        self._tracer, self._layer, self._fn = tracer, layer, fn
        functools.update_wrapper(self, fn)

    def __call__(self, *args, **kwargs):
        with self._tracer.span(f"{self._layer}.{self._fn.__name__}", self._layer):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return getattr, (sys.modules[self._fn.__module__], self._fn.__name__)


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    # ---------------------------------------------------------- recording

    def span(self, name: str, layer: str):
        return _Span(self, name, layer)

    def _open(self, name: str, layer: str) -> dict:
        stack = self._stack.__dict__.setdefault("s", [])
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "parent": stack[-1]["id"] if stack else None,
                   "name": name, "layer": layer, "run": self.run_id,
                   "start": time.perf_counter(), "end": None}
            self.spans.append(rec)
        stack.append(rec)
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        self._stack.s.pop()

    # ---------------------------------------------------------- patching

    def install(self, layers: dict, package: str) -> None:
        """Wrap each listed function on its module and on every package
        module that imported it by name, so calls between modules are seen."""
        mods = [m for k, m in list(sys.modules.items())
                if m is not None and k.startswith(package)]
        for layer, (owner, names) in layers.items():
            for name in names:
                fn = getattr(owner, name)
                if isinstance(owner, type):
                    self._patch(owner, name, self._method_wrapper(layer, name, fn))
                    continue
                wrapped = _Traced(self, layer, fn)
                for m in mods:
                    for attr, val in list(vars(m).items()):
                        if val is fn:
                            self._patch(m, attr, wrapped)

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _method_wrapper(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(f"{layer}.{name}", layer):
                return fn(*args, **kwargs)

        return wrapper

    def uninstall(self) -> None:
        for owner, name, fn in reversed(self._patched):
            setattr(owner, name, fn)
        self._patched.clear()

    # ---------------------------------------------------------- analysis

    def self_times(self) -> dict[str, float]:
        """Seconds per layer: each span's duration minus the time its direct
        children cover (children of one span never overlap: one thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def calls(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]


class _Span:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        self.rec = self.tracer._open(self.name, self.layer)
        return self.rec

    def __exit__(self, *exc):
        self.tracer._close(self.rec)
        return False
