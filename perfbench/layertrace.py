"""Layer trace measured from outside the program.

``Tracer.install()`` replaces the public callables of the engine's layers
with timing wrappers before any query module is imported (query modules
bind ``from ..catalog import load_table`` at import time, so wrapping
later would miss them). Each call records a span: name, layer, start,
end, parent and run id. Each span also gets its own Spark job group, so
jobs are attributed to the innermost span that ran them.

A wrapper keeps the wrapped function's ``__module__`` and ``__qualname__``
and is what the module attribute now holds, so cloudpickle still pickles
it by reference; a Python worker that unpickles it imports the plain,
untraced function.

Spans stay in memory. ``layer_metrics`` folds them, together with job,
stage and task metrics from the local UI REST API, into per-layer numbers.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import json
import pkgutil
import sys
import time
import urllib.request
from dataclasses import dataclass

# layer -> modules whose public callables are wrapped (None = whole package)
_FUNCTION_LAYERS = {
    "catalog": ("pixels_spark.catalog", ("load_table", "load_table_tolerant", "load_all", "register_views")),
    "sql": ("pixels_spark.sql", None),
    "storage": ("pixels_spark.storage.derived", ("ensure_derived",)),
}
_PACKAGE_LAYERS = {
    "functions": "pixels_spark.functions",
    "operators": "pixels_spark.operators",
}
_CLASS_LAYERS = (
    ("pixels_spark.mvcc.table", "MvccTable"),
    ("pixels_spark.mvcc.secondary", "SecondaryIndex"),
    ("pixels_spark.mvcc.trans", "TransService"),
)


@dataclass
class Span:
    idx: int
    name: str
    layer: str
    parent: int | None
    phase: str  # "build" (query fn), "exec" (execution) or "op"; children inherit it
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self, spark_context_getter, run_id: str):
        self._sc = spark_context_getter  # the session starts after install()
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.active = False
        self._ids = itertools.count()
        self.cost_s = 0.0  # time spent in the tracer's own bookkeeping

    # -- recording ---------------------------------------------------------
    def group_of(self, idx: int) -> str:
        return f"pb-{self.run_id}-{idx}"

    def _set_group(self, group: str | None) -> None:
        sc = self._sc()
        if sc is not None:
            sc.setLocalProperty("spark.jobGroup.id", group)

    @contextlib.contextmanager
    def span(self, name: str, layer: str, phase: str | None = None):
        if not self.active:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if phase is None:
            phase = self.spans[parent].phase if parent is not None else "op"
        s = Span(next(self._ids), name, layer, parent, phase, 0.0)
        self.spans.append(s)
        self._stack.append(s.idx)
        self._set_group(self.group_of(s.idx))
        s.start = t1 = time.perf_counter()
        self.cost_s += t1 - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.group_of(self._stack[-1]) if self._stack else None)
            self.cost_s += time.perf_counter() - s.end

    @contextlib.contextmanager
    def paused(self):
        was, self.active = self.active, False
        try:
            yield
        finally:
            self.active = was

    # -- installation ------------------------------------------------------
    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every target callable (see the module docstring)."""
        swaps: dict[int, object] = {}  # id(original) -> wrapper

        def wrap_module(mod, layer, names=None):
            for attr, obj in list(vars(mod).items()):
                if names is not None and attr not in names:
                    continue
                if attr.startswith("_") or not inspect.isfunction(obj):
                    continue
                if obj.__module__ != mod.__name__:
                    continue  # re-export: swapped below via `swaps`
                w = self._wrap(obj, f"{layer}.{attr}", layer)
                swaps[id(obj)] = w
                setattr(mod, attr, w)

        for layer, (modname, names) in _FUNCTION_LAYERS.items():
            wrap_module(importlib.import_module(modname), layer, names)
        for layer, pkgname in _PACKAGE_LAYERS.items():
            pkg = importlib.import_module(pkgname)
            for info in pkgutil.iter_modules(pkg.__path__):
                wrap_module(importlib.import_module(f"{pkgname}.{info.name}"), layer)
        for modname, clsname in _CLASS_LAYERS:
            cls = getattr(importlib.import_module(modname), clsname)
            for attr, obj in list(vars(cls).items()):
                if not attr.startswith("_") and inspect.isfunction(obj):
                    setattr(cls, attr, self._wrap(obj, f"mvcc.{clsname}.{attr}", "mvcc"))
                    swaps[id(obj)] = getattr(cls, attr)
        # names the already-imported modules bound before wrapping
        # (package re-exports, cross-module imports) now point at wrappers
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(("pixels_spark", "bench")):
                continue
            for attr, obj in list(vars(mod).items()):
                w = swaps.get(id(obj))
                if w is not None and w is not obj:
                    setattr(mod, attr, w)


# -- Spark job/stage metrics ---------------------------------------------------

def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def spark_jobs(spark, groups: set[str]) -> tuple[list[dict], list[dict]]:
    """Jobs whose job group is in ``groups`` and their completed stages,
    from the local UI REST API."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    jobs = [j for j in _get(f"{base}/jobs") if j.get("jobGroup") in groups]
    stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
    stages = [
        s for s in _get(f"{base}/stages")
        if s["stageId"] in stage_ids and s.get("status") in ("COMPLETE", "FAILED")
    ]
    return jobs, stages


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part its direct children cover (children
    run on the caller's thread, so they never overlap each other)."""
    child = {s.idx: 0.0 for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in child:
            child[s.parent] += s.end - s.start
    return {s.idx: (s.end - s.start) - child[s.idx] for s in spans}
