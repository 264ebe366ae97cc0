"""Traced mode: spans around the engine's public functions, and Spark's own
per-job counters.

Spans are recorded from the benchmark's side only. ``Tracer.install`` wraps
every public function (and public method of a public class) of the layer
modules below, rebinds every reference the package's modules hold to the
originals, and ``uninstall`` puts the originals back. Spans stay in memory
until ``dump``.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
from collections import defaultdict

PKG = "ddataframeoperation_spark"

#: Layer name -> module. Layers are the package's own modules.
LAYERS = {
    "session": f"{PKG}.session",
    "catalog": f"{PKG}.catalog",
    "functions.schema": f"{PKG}.functions.schema",
    "compat": f"{PKG}.compat",
    **{
        f"operators.{m}": f"{PKG}.operators.{m}"
        for m in (
            "asof dedup multimodal relational retrieval sampling script "
            "similarity skew text timeseries windows"
        ).split()
    },
}


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent, job)."""

    def __init__(self):
        self.spans: list[dict] = []
        self.job: int | None = None
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    def call(self, name: str, fn, *args, **kwargs):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        span = {"name": name, "start": time.perf_counter(), "end": None,
                "parent": parent, "job": self.job}
        self.spans.append(span)
        self._stack.append(sid)
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            span["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return traced

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, value)

    def install(self, queries: dict) -> None:
        """Wrap the layer modules' public functions and every entry of the
        ``QUERIES`` registry (plan construction, layer ``queries.build``)."""
        wrapped: dict[int, object] = {}
        for layer, modname in LAYERS.items():
            mod = importlib.import_module(modname)
            for attr in getattr(mod, "__all__", ()):
                obj = getattr(mod, attr, None)
                if inspect.isfunction(obj) and obj.__module__ == modname:
                    wrapped[id(obj)] = self.wrap(f"{layer}:{attr}", obj)
                elif inspect.isclass(obj) and obj.__module__ == modname:
                    for m, v in list(vars(obj).items()):
                        if m.startswith("_"):
                            continue
                        if inspect.isfunction(v):
                            self._set(obj, m, self.wrap(f"{layer}:{attr}.{m}", v))
        # Rebind every module-level reference (aliases from ``from x import
        # y`` included) and staticmethod alias to the wrapped function.
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith(PKG) or mod is None:
                continue
            for attr, v in list(vars(mod).items()):
                if id(v) in wrapped:
                    self._set(mod, attr, wrapped[id(v)])
                elif inspect.isclass(v) and v.__module__ == modname:
                    for m, sv in list(vars(v).items()):
                        if isinstance(sv, staticmethod) and id(sv.__func__) in wrapped:
                            self._set(v, m, staticmethod(wrapped[id(sv.__func__)]))
        for name, fn in list(queries.items()):
            self._undo.append((queries, name, fn))
            queries[name] = self.wrap(f"queries.build:{name}", fn)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._undo.clear()

    def layer_totals(self) -> tuple[dict, dict, dict]:
        """Per-layer (self seconds, inclusive seconds, calls) summed over all
        spans. Self time is a span's duration minus its children's."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        self_s, incl_s, calls = defaultdict(float), defaultdict(float), defaultdict(int)
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            d = s["end"] - s["start"]
            for key in (s["name"].split(":")[0], s["name"]):
                self_s[key] += d - child[i]
                incl_s[key] += d
                calls[key] += 1
        return self_s, incl_s, calls

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


#: Stage fields summed per job, with the scale that turns them into the
#: reported unit (ms -> s, ns -> s).
STAGE_FIELDS = {
    "numTasks": 1,
    "numFailedTasks": 1,
    "executorRunTime": 1e-3,
    "executorCpuTime": 1e-9,
    "jvmGcTime": 1e-3,
    "inputBytes": 1,
    "inputRecords": 1,
    "shuffleWriteBytes": 1,
    "memoryBytesSpilled": 1,
    "diskBytesSpilled": 1,
}


class SparkCounters:
    """Counters from Spark's status store for the jobs that ran since the
    last ``take``: every job id is newer than the last one seen, whichever
    thread (a streaming query's included) started it."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._last = -1
        self.take()

    def take(self) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        stage_ids, n_jobs = set(), 0
        for i in range(jobs.length()):
            j = jobs.apply(i)
            if j.jobId() <= self._last:
                break
            n_jobs += 1
            ids = j.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.length()))
        if jobs.length():
            self._last = max(self._last, jobs.head().jobId())
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        out["jobs"], out["stages"] = float(n_jobs), 0.0
        for sid in stage_ids:
            s = self._store.lastStageAttempt(sid)
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for f, scale in STAGE_FIELDS.items():
                out[f] += getattr(s, f)() * scale
        return out
