"""Tracing from outside the engine.

A traced pass wraps the public functions of the engine's layer modules
(``session``, ``operators.*``, ``sources.*``, ``plans.star_schema``,
``streaming.events_stream``) for its duration, timing and counting each
call, and records spans (name, start, end, parent). Nothing inside the
engine is edited: callers look these functions up as module attributes at
call time, so replacing the attribute is enough, and the originals are put
back when the pass ends. Untraced passes run the unmodified modules.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "udacitydatawarehouseprj_spark"

#: Modules whose public functions are wrapped: layer name -> module path.
LAYER_MODULES = {
    "session": f"{PKG}.session",
    "sources.json_source": f"{PKG}.sources.json_source",
    "sources.sinks": f"{PKG}.sources.sinks",
    "plans.star_schema": f"{PKG}.plans.star_schema",
    "streaming.events_stream": f"{PKG}.streaming.events_stream",
    **{
        f"operators.{m}": f"{PKG}.operators.{m}"
        for m in ("dedup", "graph", "layout", "multimodal", "relational",
                  "sequence", "similarity", "skew", "temporal", "textops")
    },
}

#: session functions that are plumbing, not work: left unwrapped.
_SESSION_SKIP = {"default_parallelism", "table_path", "get_spark", "configure"}

_APP_ID = re.compile(r":?local-\d+")


def normalize_cache_key(key: str, input_dir: str) -> str:
    """A shared-cache key without the run-specific parts (the Spark
    application id and the generated input directory), so per-key builds
    and build times compare across runs."""
    key = key.replace(os.path.abspath(input_dir), "<inputs>").replace(input_dir, "<inputs>")
    return _APP_ID.sub("", key)


class Tracer:
    """Spans and counters for one traced run."""

    def __init__(self, input_dir: str) -> None:
        self.input_dir = input_dir
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.cache_keys: dict[str, dict] = {}
        self.sink_writes: dict[str, float] = defaultdict(float)
        self.stream_progress: list[dict] = []
        self._saved: list[tuple[object, str, object]] = []
        self._op_depth = 0
        #: (job group, kind) pairs opened this pass; kind is plan, action,
        #: operator:plan or operator:action
        self.groups: list[tuple[str, str]] = []
        self._group: str | None = None
        self._phase: str | None = None
        self.sc = None

    # -- job groups ---------------------------------------------------------
    @contextmanager
    def phase(self, group: str, kind: str):
        """A ``queries.<kind>`` span whose Spark jobs carry job group
        ``group``; kind is ``plan`` (inside the registry function) or
        ``action`` (consuming its result)."""
        self._group, self._phase = group, kind
        self._set_group(group)
        self.groups.append((group, kind))
        try:
            with self.span(f"queries.{kind}"):
                yield
        finally:
            self._group = self._phase = None
            self._set_group(None)

    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def take_pass_counters(self) -> dict:
        """This pass's counters; the next pass starts from zero."""
        out = {
            "counts": dict(self.counts),
            "cache_keys": self.cache_keys,
            "sink_writes": dict(self.sink_writes),
            "stream_progress": self.stream_progress,
        }
        self.counts = defaultdict(float)
        self.cache_keys, self.sink_writes, self.stream_progress = {}, defaultdict(float), []
        return out

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")

    # -- wrapping -----------------------------------------------------------
    def install(self, sc) -> None:
        """Wrap every layer module's public functions."""
        self.sc = sc
        for layer, modname in LAYER_MODULES.items():
            mod = importlib.import_module(modname)
            for name, fn in list(vars(mod).items()):
                if (name.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != modname
                        or (layer == "session" and name in _SESSION_SKIP)):
                    continue
                self._saved.append((mod, name, fn))
                setattr(mod, name, self._wrap(layer, name, fn))

    def uninstall(self) -> None:
        while self._saved:
            mod, name, fn = self._saved.pop()
            setattr(mod, name, fn)

    def _wrap(self, layer: str, name: str, fn):
        label = f"{layer}.{name}"
        if label == "session.shared_cache":
            return self._wrap_shared_cache(fn)
        if label == "streaming.events_stream.run_hourly_stream_to_parquet":
            return self._wrap_stream(label, fn)
        is_operator = layer.startswith("operators.")

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            outer = is_operator and self._op_depth == 0 and self._group is not None
            self._op_depth += is_operator
            if outer:  # jobs this operator call launches get their own group
                group = f"{self._group}/{label}#{int(self.counts['operators.calls'])}"
                self._set_group(group)
                self.groups.append((group, f"operator:{self._phase}"))
            t = time.perf_counter()
            try:
                with self.span(label):
                    return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t
                self._op_depth -= is_operator
                if outer:
                    self._set_group(self._group)
                self.counts[f"{label}.calls"] += 1
                self.counts[f"{label}.s"] += dt
                if outer:
                    self.counts["operators.calls"] += 1
                    self.counts["operators.s"] += dt
                if label == "sources.sinks.write_parquet":
                    path = args[1] if len(args) > 1 else kwargs["path"]
                    self.sink_writes[os.path.basename(os.path.normpath(path))] += dt

        return traced

    def _wrap_shared_cache(self, fn):
        @functools.wraps(fn)
        def traced(key, build):
            norm = normalize_cache_key(key, self.input_dir)
            entry = self.cache_keys.setdefault(norm, {"calls": 0, "builds": 0, "build_s": 0.0})
            entry["calls"] += 1
            self.counts["session.shared_cache.calls"] += 1

            def timed_build():
                t = time.perf_counter()
                try:
                    with self.span("session.shared_cache.build", key=norm):
                        return build()
                finally:
                    dt = time.perf_counter() - t
                    entry["builds"] += 1
                    entry["build_s"] += dt
                    self.counts["session.shared_cache.builds"] += 1
                    self.counts["session.shared_cache.build_s"] += dt

            with self.span("session.shared_cache", key=norm):
                return fn(key, timed_build)

        return traced

    def _wrap_stream(self, label: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(label):
                query = fn(*args, **kwargs)
            return _ProgressReader(query, self.stream_progress)

        return traced


class _ProgressReader:
    """Proxy for a StreamingQuery that copies its progress reports
    (``StreamingQueryProgress``: rows and duration per micro-batch) once
    the caller has waited for it to finish."""

    def __init__(self, query, sink: list[dict]) -> None:
        self._query, self._sink = query, sink

    def awaitTermination(self, timeout=None):
        done = self._query.awaitTermination(timeout)
        for p in self._query.recentProgress:
            self._sink.append({
                "rows": p.numInputRows,
                "batch_s": p.batchDuration / 1000.0,
            })
        return done

    def __getattr__(self, name):
        return getattr(self._query, name)
