"""In-memory spans for the traced run.

:class:`Tracer` records a span (name, start, end, parent, trace id) for

- every public function of the engine package's layer modules, by
  wrapping the functions of each module right after the module is
  executed (an import hook).  A module that binds a name with
  ``from … import`` therefore binds the wrapper, because the defining
  module finished importing (and was wrapped) first.  The hook has to
  be installed before the engine is imported;
- ``DataFrame.collect`` / ``toPandas`` (layer ``driver``) and
  ``DataFrame.localCheckpoint``, patched on the classic DataFrame;
- the spans the benchmark opens itself (``plans.construct``,
  ``spark.execute``) around each query.

Spans are recorded only while :attr:`Tracer.active` is set, and kept in
memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import functools
import importlib.abc
import importlib.machinery
import inspect
import json
import sys
import threading
import time
from contextlib import contextmanager

PACKAGE = "yelp_review_data_analysis_using_big_data_technologies_spark"
LAYERS = ("sources", "functions", "operators", "plans", "llm", "streaming")


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.trace_id: str | None = None
        self.pass_index = -1
        self.spans: list[dict] = []
        self.counts: dict[str, int] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_stack: list[int] = []

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        stack = self._stack()
        if threading.current_thread() is threading.main_thread():
            self._main_stack = stack
        # a span opened on a callback thread (foreachBatch, listener)
        # has no parent on its own thread: hang it under the innermost
        # span the main thread has open, which is blocked waiting on it
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        rec = {
            "trace": self.trace_id,
            "pass": self.pass_index,
            "name": name,
            "parent": parent,
            "thread": threading.get_ident(),
            "t0": time.perf_counter(),
            "t1": None,
        }
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            rec["t1"] = time.perf_counter()
            stack.pop()

    def count(self, name: str, n: int = 1) -> None:
        if self.active:
            with self._lock:
                self.counts[name] = self.counts.get(name, 0) + n

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)

    # -- instrumentation -------------------------------------------------
    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def wrap_module(self, module) -> None:
        """Replace each public function defined in ``module`` with a
        span-recording wrapper named ``<layer>.<module>.<function>``."""
        short = module.__name__[len(PACKAGE) + 1 :]
        for attr, fn in list(vars(module).items()):
            if attr.startswith("_") or not inspect.isfunction(fn):
                continue
            if fn.__module__ != module.__name__:
                continue
            setattr(module, attr, self._wrap(fn, f"{short}.{attr}"))

    def install(self) -> None:
        """Install the import hook and the DataFrame patches.  Must run
        before the engine package is imported."""
        if any(k == PACKAGE or k.startswith(PACKAGE + ".") for k in sys.modules):
            raise RuntimeError("install the tracer before importing the engine")
        sys.meta_path.insert(0, _WrapFinder(self))
        from pyspark.sql.classic.dataframe import DataFrame

        tracer = self
        collect, to_pandas, local_ckpt = DataFrame.collect, DataFrame.toPandas, DataFrame.localCheckpoint

        def traced_collect(df):
            with tracer.span("driver.collect"):
                rows = collect(df)
            tracer.count("driver.collects")
            tracer.count("driver.collect_rows", len(rows))
            return rows

        def traced_to_pandas(df):
            with tracer.span("driver.toPandas"):
                pdf = to_pandas(df)
            tracer.count("driver.collects")
            tracer.count("driver.collect_rows", len(pdf))
            return pdf

        def traced_local_checkpoint(df, *args, **kwargs):
            tracer.count("llm.local_checkpoints")
            return local_ckpt(df, *args, **kwargs)

        DataFrame.collect = traced_collect
        DataFrame.toPandas = traced_to_pandas
        DataFrame.localCheckpoint = traced_local_checkpoint


class _WrapFinder(importlib.abc.MetaPathFinder):
    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer

    def find_spec(self, name, path, target=None):
        parts = name.split(".")
        if parts[0] != PACKAGE or len(parts) < 3 or parts[1] not in LAYERS:
            return None
        spec = importlib.machinery.PathFinder.find_spec(name, path)
        if spec is None or spec.loader is None:
            return spec
        exec_module = spec.loader.exec_module
        tracer = self.tracer

        def exec_and_wrap(module):
            exec_module(module)
            tracer.wrap_module(module)

        spec.loader.exec_module = exec_and_wrap
        return spec


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of it its children cover
    (children on callback threads may overlap, so cover = union)."""
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(i)
    out = []
    for i, s in enumerate(spans):
        t0, t1 = s["t0"], s["t1"]
        covered, end = 0.0, t0
        for a, b in sorted((spans[c]["t0"], spans[c]["t1"]) for c in children.get(i, ())):
            a, b = max(a, end), min(b, t1)
            if b > a:
                covered += b - a
                end = b
        out.append((t1 - t0) - covered)
    return out


def outermost(spans: list[dict], prefix: str) -> list[dict]:
    """Spans named ``prefix…`` with no ancestor of the same prefix, so
    nested calls inside one module family are not double counted."""
    out = []
    for s in spans:
        if not s["name"].startswith(prefix):
            continue
        p = s["parent"]
        while p is not None and not spans[p]["name"].startswith(prefix):
            p = spans[p]["parent"]
        if p is None:
            out.append(s)
    return out
