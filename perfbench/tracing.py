"""Benchmark-side tracing: spans around calls into the engine's layers,
and per-phase Spark stage metrics read from the Spark UI REST API.

Nothing here changes engine code.  Timing shims are installed only in a
traced run: each wrapped public function is rebound in every loaded
module that holds it under a module-level name, because the ``plans``
modules import ``load_table`` and friends by name.  A shim keeps the
wrapped function's ``__module__``/``__qualname__`` and is rebound in its
defining module, so cloudpickle still ships it to Python workers by
reference (workers import the unwrapped original).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import sys
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime, timezone

PKG = "vexere_lakehouse_pipeline_spark"
# layer name -> engine modules whose public functions and classes it
# owns; a name ending in "." takes every loaded module under it
LAYER_MODULES = {
    "catalog": [f"{PKG}.catalog"],
    "plans": [f"{PKG}.plans."],
    "incremental": [f"{PKG}.operators.incremental"],
    "snapshots": [f"{PKG}.operators.snapshots"],
    "dedup": [f"{PKG}.operators.dedup"],
    "text": [f"{PKG}.functions.text"],
    "ann_index": [f"{PKG}.operators.ann_index"],
    "similarity": [f"{PKG}.operators.similarity"],
}

# every layer a traced run reports a self time for
LAYERS = ("session", "catalog", "plans", "incremental", "snapshots",
          "dedup", "text", "ann_index", "similarity", "spark")


class Tracer:
    """Spans (name, start, end, parent, op) kept in memory, plus named
    counters.  ``enabled`` is False in untimed/untraced stretches, so a
    shim then costs one attribute test."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int, str]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.enabled = False
        self.op = ""
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, time.time(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, s, _, p, o = self.spans[idx]
            self.spans[idx] = (n, s, time.time(), p, o)

    def count(self, name: str, value: float = 1) -> None:
        self.counts[name] += value

    # -- shims ------------------------------------------------------------
    def _shim(self, layer: str, fn, hooks: dict):
        name = f"{layer}.{fn.__name__}"
        hook = hooks.get(name)
        sig = inspect.signature(fn) if hook else None

        @functools.wraps(fn)
        def shim(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            t0 = time.time()
            with self.span(name):
                result = fn(*args, **kwargs)
            if hook is not None:
                self.enabled = False  # the hook's own engine calls are not traced
                try:
                    hook(t0, time.time(), sig.bind(*args, **kwargs).arguments, result)
                finally:
                    self.enabled = True
            return result

        return shim

    def install(self, hooks: dict | None = None) -> None:
        """Wrap the public functions and class methods of every layer
        module and rebind all module-level aliases of them.  ``hooks``
        maps a span name to ``hook(t0, t1, arguments, result)`` (arguments
        by parameter name), called after each traced call of it, for
        counters a span cannot give."""
        hooks = hooks or {}
        replaced: dict[int, object] = {}
        for layer, names in LAYER_MODULES.items():
            mods = []
            for name in names:
                if name.endswith("."):
                    pkg = importlib.import_module(name[:-1])
                    mods += [importlib.import_module(name + m.name)
                             for m in pkgutil.iter_modules(pkg.__path__)]
                else:
                    mods.append(importlib.import_module(name))
            for mod in mods:
                mod_name = mod.__name__
                for attr, obj in list(vars(mod).items()):
                    if attr.startswith("_") or getattr(obj, "__module__", None) != mod_name:
                        continue
                    if inspect.isfunction(obj):
                        shim = self._shim(layer, obj, hooks)
                        replaced[id(obj)] = shim
                        self._set(mod, attr, shim)
                    elif inspect.isclass(obj):
                        for m_name, meth in list(vars(obj).items()):
                            if not m_name.startswith("_") and inspect.isfunction(meth):
                                self._set(obj, m_name, self._shim(layer, meth, hooks))
        # the plans modules import layer functions by name: rebind those
        # aliases too
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for attr, obj in list(vars(mod).items()):
                if id(obj) in replaced and obj is not replaced[id(obj)]:
                    self._set(mod, attr, replaced[id(obj)])

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._undo):
            setattr(owner, attr, old)
        self._undo.clear()

    # -- results ----------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Per layer: span durations minus the part covered by child
        spans (children never overlap: one driver thread)."""
        child = [0.0] * len(self.spans)
        for name, s, e, p, _ in self.spans:
            if p >= 0:
                child[p] += e - s
        out = {layer: 0.0 for layer in LAYERS}
        for i, (name, s, e, _, _) in enumerate(self.spans):
            layer = name.split(".", 1)[0]
            if layer in out:
                out[layer] += (e - s) - child[i]
        return out

    def total(self, name: str) -> float:
        return sum(e - s for n, s, e, _, _ in self.spans if n == name)

    def calls(self, name: str) -> int:
        return sum(1 for n, *_ in self.spans if n == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([{"name": n, "start": s, "end": e, "parent": p, "op": o}
                       for n, s, e, p, o in self.spans], fh)


def du(path: str) -> int:
    """Bytes of the files under ``path``."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def layer_hooks(tracer: Tracer) -> dict:
    """Counters read off traced engine calls: rows merged and data files
    written by a ``ZoneCatalog``, bytes of each snapshot commit, the
    share of partitions a fingerprint-pruned diff keeps, and the time of
    gold commits that store an ``incremental_gold_refresh`` result."""
    refreshed: list = []

    def files_written(t0, a) -> None:
        path = a["self"].path(a["zone"], a["table"])
        tracer.count("incremental.files_written", sum(
            1 for d, _, fs in os.walk(path) for f in fs
            if not f.startswith((".", "_"))
            and os.path.getmtime(os.path.join(d, f)) >= t0 - 1e-3))

    def merge(t0, t1, a, rows) -> None:
        files_written(t0, a)
        tracer.count("incremental.merge_rows", rows)

    def commit(t0, t1, a, version) -> None:
        tracer.count("snapshots.commit_bytes", du(f"{a['self'].base}/v={version}"))
        if any(a["df"] is df for df in refreshed):
            tracer.count("snapshots.refresh_commit_s", t1 - t0)

    def changed(t0, t1, a, result) -> None:
        if result is None:  # unpartitioned: the diff is not pruned
            return
        versions = (a["from_version"], a["to_version"])
        parts = {tuple(e["k"]) for v in a["table"].history()
                 if v["version"] in versions for e in v["parts"]}
        tracer.count("snapshots.changed_partition_ratio_sum", len(result[1]) / len(parts))
        tracer.count("snapshots.changed_partition_ratio_n")

    return {
        "incremental.merge": merge,
        "incremental.overwrite": lambda t0, t1, a, _: files_written(t0, a),
        "incremental.overwrite_partitions": lambda t0, t1, a, _: files_written(t0, a),
        "snapshots.commit": commit,
        "snapshots.incremental_gold_refresh": lambda t0, t1, a, df: refreshed.append(df),
        "snapshots.changed_partitions": changed,
    }


# -- Spark UI REST ------------------------------------------------------------

def _ts(s: str | None) -> float | None:
    # REST timestamps look like 2026-10-17T03:40:00.123GMT
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def drain_listener(spark) -> None:
    """Block until the listener bus has delivered every event, so the
    REST store holds each finished job and stage."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _get(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def spark_phase_metrics(spark, since: float) -> tuple[dict[str, dict], int]:
    """Stage metrics of the jobs submitted at or after ``since``, grouped
    by job group, plus the number of those jobs that carry no group."""
    drain_listener(spark)
    jobs = [j for j in _get(spark, "/jobs")
            if (_ts(j.get("submissionTime")) or 0) >= since - 0.001]
    stages = {(s["stageId"], s["attemptId"]): s for s in _get(spark, "/stages")}
    by_stage: dict[int, list[dict]] = defaultdict(list)
    for s in stages.values():
        by_stage[s["stageId"]].append(s)
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    spans: dict[str, list[tuple[float, float]]] = defaultdict(list)
    untagged = 0
    for j in jobs:
        g = j.get("jobGroup")
        if not g:
            untagged += 1
            continue
        agg = groups[g]
        agg["jobs"] += 1
        for sid in j["stageIds"]:
            for s in by_stage.get(sid, []):
                if s["status"] != "COMPLETE":
                    continue
                agg["stages"] += 1
                agg["tasks"] += s["numCompleteTasks"]
                agg["task_run_s"] += s["executorRunTime"] / 1e3
                agg["task_cpu_s"] += s["executorCpuTime"] / 1e9
                agg["input_bytes"] += s["inputBytes"]
                agg["output_bytes"] += s["outputBytes"]
                agg["shuffle_read_bytes"] += s["shuffleReadBytes"]
                agg["shuffle_write_bytes"] += s["shuffleWriteBytes"]
                agg["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                a, b = _ts(s.get("submissionTime")), _ts(s.get("completionTime"))
                if a is not None and b is not None:
                    spans[g].append((a, b))
    for g, iv in spans.items():
        groups[g]["stage_spans"] = _merge(iv)
    return groups, untagged


def _merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def covered(window: tuple[float, float], spans: list[tuple[float, float]]) -> float:
    lo, hi = window
    return sum(max(0.0, min(b, hi) - max(a, lo)) for a, b in spans)
