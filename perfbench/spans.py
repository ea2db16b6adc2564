"""Layer spans timed from outside the package.

``Spans.install()`` wraps every plain function defined in a loaded
``stock_data_project_spark`` module, in every package module namespace
that refers to it, so a call that crosses a module boundary opens a
span of that module's layer. Self time is a span's wall time minus the
wall time of the spans it opened, so the self times of one op sum to
the time spent inside the package. ``uninstall()`` puts every original
back; the package code itself is never edited.
"""

from __future__ import annotations

import sys
import time
import types
from collections import defaultdict
from contextlib import contextmanager
from operator import itemgetter

PACKAGE = "stock_data_project_spark"
LAYERS = (
    "session",
    "catalog",
    "sources",
    "functions",
    "ingest",
    "operators",
    "plans",
    "corpus",
)


def layer_of(module: str) -> str:
    """Layer name of a package module (``operators.ingest`` is its own
    layer: it is the paper's pipeline, not a reusable operator)."""
    parts = module.split(".")[1:]
    if parts[:2] == ["operators", "ingest"]:
        return "ingest"
    return parts[0] if parts and parts[0] in LAYERS else "package"


class Spans:
    """Per-layer self time and call counts of the spans opened since the
    last ``reset``. ``on_layer`` is called with the innermost open
    span's layer (None when none is open) whenever that changes; the
    benchmark uses it to tag the Spark jobs each layer submits."""

    def __init__(self, on_layer=None) -> None:
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.on_layer = on_layer
        self._stack: list[list] = []  # [child wall s, layer] per open span
        self._patched: list[tuple[dict, str, object]] = []

    def reset(self) -> None:
        self.self_s.clear()
        self.calls.clear()

    def _innermost(self):
        return self._stack[-1][1] if self._stack else None

    @contextmanager
    def span(self, layer: str):
        start = time.perf_counter()
        outer = self._innermost()
        self._stack.append([0.0, layer])
        if self.on_layer and outer != layer:
            self.on_layer(layer)
        try:
            yield
        finally:
            child = self._stack.pop()[0]
            if self.on_layer and outer != layer:
                self.on_layer(outer)
            dur = time.perf_counter() - start
            self.self_s[layer] += dur - child
            self.calls[layer] += 1
            if self._stack:
                self._stack[-1][0] += dur

    def install(self) -> None:
        modules = [
            m
            for name, m in list(sys.modules.items())
            if isinstance(m, types.ModuleType)
            and (name == PACKAGE or name.startswith(PACKAGE + "."))
        ]
        wrapped: dict[int, object] = {}
        for m in modules:
            for attr, value in list(vars(m).items()):
                if (
                    isinstance(value, types.FunctionType)
                    and (value.__module__ or "").startswith(PACKAGE)
                    and not attr.startswith("__")
                ):
                    w = wrapped.get(id(value))
                    if w is None:
                        w = wrapped[id(value)] = _Traced(self, value, layer_of(value.__module__))
                    self._patched.append((vars(m), attr, value))
                    setattr(m, attr, w)

    def uninstall(self) -> None:
        for ns, attr, original in reversed(self._patched):
            ns[attr] = original
        self._patched.clear()


class _Traced:
    """Span-opening stand-in for one package function. It pickles as
    the original function, so a kernel closure that Spark ships to a
    Python worker never carries the tracer along."""

    def __init__(self, spans: Spans, fn, layer: str) -> None:
        self._spans, self._layer = spans, layer
        self.__wrapped__ = fn
        self.__name__ = fn.__name__
        self.__qualname__ = fn.__qualname__
        self.__module__ = fn.__module__
        self.__doc__ = fn.__doc__

    def __call__(self, *args, **kwargs):
        with self._spans.span(self._layer):
            return self.__wrapped__(*args, **kwargs)

    def __reduce__(self):
        return itemgetter(0), ((self.__wrapped__,),)
