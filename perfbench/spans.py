"""In-memory span recorder.

A span covers one call into an engine layer (or one action) made from
the benchmark's own code. When tracing is on, every span also becomes
the Spark job group of the jobs submitted inside it, so the event-log
folder (``eventlog.py``) can charge each job, task and block to the
innermost span — and through it to a layer.
"""

from __future__ import annotations

import functools
import importlib
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    parent: int | None
    op: int | None          # the root (operation) span this one belongs to
    layer: str
    name: str
    start_ms: float          # epoch ms, comparable with event-log times
    end_ms: float = 0.0
    pudf: str | None = None  # layer charged for Python UDF nodes in this span

    @property
    def group(self) -> str:
        return f"pb-{self.sid}"


class Tracer:
    """Records spans; with ``sc`` set it also tags Spark jobs."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, layer: str, name: str, pudf: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            sid=len(self.spans),
            parent=parent.sid if parent else None,
            op=parent.op if parent else len(self.spans),
            layer=layer,
            name=name,
            start_ms=time.time() * 1000.0,
            pudf=pudf if pudf is not None else (parent.pudf if parent else None),
        )
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, f"{layer}:{name}")
        try:
            yield s
        finally:
            s.end_ms = time.time() * 1000.0
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].group, "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def probes(self, targets):
        """Wrap module-level engine functions so calls the engine makes
        internally (e.g. ``connected_components`` inside
        ``vectorize_mask``) open their own span. ``targets`` holds
        ``(module, function, layer)``; originals are restored on exit.
        A no-op when tracing is off."""
        if not self.enabled:
            yield
            return
        with self._patched(targets, lambda fn, layer: self._wrap(fn, layer, fn.__name__)):
            yield

    @contextmanager
    def _patched(self, targets, make):
        saved = []
        for mod_name, fn_name, arg in targets:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, fn_name)
            saved.append((mod, fn_name, orig))
            setattr(mod, fn_name, make(orig, arg))
        try:
            yield
        finally:
            for mod, fn_name, orig in saved:
                setattr(mod, fn_name, orig)

    def _wrap(self, fn, layer, name):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return wrapper
