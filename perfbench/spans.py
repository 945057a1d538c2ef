"""Layer spans recorded from outside the program.

:class:`Tracer` wraps the public module-level functions of each
layer's modules and rebinds every reference to them that the loaded
``frames_spark`` and ``perfbench`` modules hold, plus the query
registry. Each wrapped call is a span: the tracer keeps its self time
(duration minus the time of the wrapped calls it made) and call count
per layer, and sets the Spark local property
:data:`perfbench.eventlog.LAYER_PROP` to the innermost layer, so the
event log can charge each eager job to the layer that started it.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
import types

from perfbench.eventlog import LAYER_PROP

# layer -> module-name prefixes whose public functions it owns
LAYERS: dict[str, tuple[str, ...]] = {
    "sources": (
        "frames_spark.sources.tables",
        "frames_spark.sources.csv",
        "frames_spark.sources.jsonl",
    ),
    "sink": ("frames_spark.sources.sink",),
    "queries": ("frames_spark.queries.",),
    "operators": ("frames_spark.operators.",),
    "functions": ("frames_spark.functions.",),
    "dedup": ("frames_spark.dedup.",),
    "similarity": ("frames_spark.similarity.",),
    "pipelines": ("frames_spark.pipelines.",),
}


def _layer_of(module_name: str) -> str | None:
    for layer, prefixes in LAYERS.items():
        if any(module_name == p or module_name.startswith(p) for p in prefixes):
            return layer
    return None


class Tracer:
    """Self time and call counts per layer for one traced pass."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._main = threading.get_ident()
        self._stack: list[list] = []  # [layer, child seconds]
        self._prop: str | None = None
        self._undo: list[tuple[object, str, object]] = []
        self.self_s = dict.fromkeys(LAYERS, 0.0)
        self.calls = dict.fromkeys(LAYERS, 0)

    def _set_layer(self, layer: str | None) -> None:
        if layer != self._prop:
            self._sc.setLocalProperty(LAYER_PROP, layer)
            self._prop = layer

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def span(*args, **kwargs):
            if threading.get_ident() != tracer._main:
                return fn(*args, **kwargs)
            frame = [layer, 0.0]
            tracer._stack.append(frame)
            tracer._set_layer(layer)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                tracer._stack.pop()
                tracer.self_s[layer] += dt - frame[1]
                tracer.calls[layer] += 1
                if tracer._stack:
                    tracer._stack[-1][1] += dt
                tracer._set_layer(tracer._stack[-1][0] if tracer._stack else None)

        return span

    def install(self, registry: dict) -> None:
        """Wrap every public function of the loaded layer modules and
        rebind the references to them, including ``registry`` values."""
        wrappers: dict[int, object] = {}
        for name, mod in list(sys.modules.items()):
            layer = _layer_of(name)
            if layer is None or mod is None:
                continue
            for attr, val in vars(mod).items():
                if (
                    isinstance(val, types.FunctionType)
                    and not attr.startswith("_")
                    and val.__module__ == name
                    and val.__qualname__ == attr
                ):
                    wrappers[id(val)] = self._wrap(layer, val)
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith(("frames_spark", "perfbench")):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in wrappers:
                    self._undo.append((mod, attr, val))
                    setattr(mod, attr, wrappers[id(val)])
        for key, val in list(registry.items()):
            if id(val) in wrappers:
                self._undo.append((registry, key, val))
                registry[key] = wrappers[id(val)]

    def uninstall(self) -> None:
        for target, key, val in reversed(self._undo):
            if isinstance(target, dict):
                target[key] = val
            else:
                setattr(target, key, val)
        self._undo.clear()
        self._set_layer(None)
