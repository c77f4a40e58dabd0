"""Span tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's own code, around its calls into
each layer of the engine, and by wrapping a few engine functions while
traced passes run (:class:`LayerHooks`). Nothing in the engine's
package is edited. Each span:

* sets a Spark job group, so every Spark job started inside it is
  attributed to the innermost open span;
* on close, reads the stage metrics of its own jobs from Spark's status
  store (the store keeps only the last 1000 stages, and one ALS fit runs
  hundreds, so they are read span by span, not at the end);
* is kept in memory and written out with :meth:`Tracer.dump`.

A span's self time is its duration minus the part of it covered by its
child spans.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

#: StageData fields summed per span, with the unit conversion to apply.
STAGE_FIELDS = {
    "numTasks": ("tasks", 1),
    "numFailedTasks": ("failed_tasks", 1),
    "executorRunTime": ("task_run_s", 1e-3),
    "executorCpuTime": ("task_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputRecords": ("input_rows", 1),
    "inputBytes": ("input_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
}


class StageReader:
    """Reads per-stage metrics for a set of jobs from the status store."""

    def __init__(self, sc):
        self.sc = sc
        jvm = sc._jvm
        self.store = sc._jsc.sc().statusStore()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper.registerModule(getattr(scala, "MODULE$"))
        self.no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self.no_statuses = jvm.java.util.ArrayList()

    def job_metrics(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = defaultdict(float)
        out["jobs"] = len(jobs)
        # Wall time of the span's own Spark jobs (they run one at a time:
        # the benchmark is one thread), so eager work inside a span that is
        # meant to build a plan can be told apart from the planning itself.
        for jid in jobs:
            data = json.loads(self.mapper.writeValueAsString(self.store.job(jid)))
            if data.get("submissionTime") and data.get("completionTime"):
                out["job_wall_s"] += (data["completionTime"] - data["submissionTime"]) * 1e-3
        if not stage_ids:
            return dict(out)
        stages = json.loads(
            self.mapper.writeValueAsString(
                self.store.stageList(
                    None, False, False, self.no_quantiles, self.no_statuses
                )
            )
        )
        for st in stages:
            if st["stageId"] not in stage_ids:
                continue
            out["stages"] += 1
            for field, (name, scale) in STAGE_FIELDS.items():
                out[name] += st.get(field, 0) * scale
        return dict(out)


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and set no
    job groups, so an untraced run pays only a context-manager call."""

    def __init__(self, run_id: str, enabled: bool, spark):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.cache_stats = defaultdict(lambda: {"calls": 0, "hits": 0, "build_s": 0.0})
        self.sc = spark.sparkContext
        self.stages = StageReader(self.sc) if enabled else None

    def _group(self, sid: int | None) -> str | None:
        return None if sid is None else f"{self.run_id}:{sid}"

    def _set_group(self, sid: int | None, name: str = "") -> None:
        if self.stages is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self._group(sid), name, False)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        rec = {
            "id": sid, "name": name, "parent": parent, "run_id": self.run_id,
            "start": time.perf_counter(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self.stack.append(sid)
        self._set_group(sid, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            self._set_group(parent, self.spans[parent]["name"] if parent is not None else "")
            if self.stages is not None:
                rec["spark"] = self.stages.job_metrics(self._group(sid))

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals
        (children of one span never overlap: the benchmark is one thread)."""
        child_s = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        return {
            s["id"]: (s["end"] - s["start"]) - child_s[s["id"]]
            for s in self.spans if s["end"] is not None
        }

    def descendants(self, sid: int) -> list[dict]:
        """The span and every span nested under it."""
        out, frontier = [], {sid}
        for s in self.spans:
            if s["id"] in frontier or s["parent"] in frontier:
                frontier.add(s["id"])
                out.append(s)
        return out

    def dump(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self.self_times()
        layer_self = defaultdict(float)
        for s in self.spans:
            if s["id"] in selfs:
                layer_self[s["name"].split(":")[0]] += selfs[s["id"]]
        with open(path, "w") as fh:
            json.dump(
                {
                    "run_id": self.run_id,
                    "summary": summary,
                    "layer_self_s": dict(sorted(layer_self.items())),
                    "spans": [dict(s, self_s=selfs.get(s["id"])) for s in self.spans],
                },
                fh,
                indent=1,
                default=str,
            )


class LayerHooks:
    """Wraps engine functions in spans while traced passes run.

    A function is replaced in every loaded module of the engine that binds
    it (``from ... import load`` copies the binding into the importer), and
    restored by :meth:`close`.
    """

    PACKAGE = "recommendation_system_big_data_spark"

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.patched: list[tuple[object, str, object]] = []

    def _replace(self, original, wrapper) -> None:
        for name, mod in list(sys.modules.items()):
            if not name.startswith(self.PACKAGE) or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, wrapper)
                    self.patched.append((mod, attr, original))

    def close(self) -> None:
        for mod, attr, original in reversed(self.patched):
            setattr(mod, attr, original)
        self.patched.clear()

    def span_calls(self, original, span_name: str) -> None:
        tracer = self.tracer

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                return original(*args, **kwargs)

        self._replace(original, wrapper)

    def cached_calls(self, original, cache: dict, stat: str, lazy: bool) -> None:
        """Wrap a session-cache accessor: a call that adds a key to ``cache``
        built the entry (a miss), any other call was a hit. A ``lazy``
        cached value is a persisted DataFrame, so a miss materialises it
        inside the wrapper and the build is timed where it happens; other
        caches fit their value before they return it."""
        tracer, stats = self.tracer, self.tracer.cache_stats[stat]

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            before = set(cache)
            stats["calls"] += 1
            with tracer.span(stat) as rec:
                start = time.perf_counter()
                out = original(*args, **kwargs)
                rec["hit"] = not (set(cache) - before)
                if rec["hit"]:
                    stats["hits"] += 1
                else:
                    if lazy:
                        out.count()
                    stats["build_s"] += time.perf_counter() - start
            return out

        self._replace(original, wrapper)

    @classmethod
    def install(cls, tracer: Tracer) -> "LayerHooks":
        from recommendation_system_big_data_spark import catalog
        from recommendation_system_big_data_spark.operators import dedup, recommend, similarity

        hooks = cls(tracer)
        hooks.span_calls(catalog.load, "catalog.load")
        hooks.span_calls(recommend.train_als, "recommend.train_als")
        hooks.cached_calls(dedup.shingle_index, dedup._SHINGLE_INDEX, "dedup.shingle_index", lazy=True)
        for fit in (similarity.corpus_centroids, similarity.corpus_pq_codebooks):
            hooks.cached_calls(fit, similarity._FITTED_MODELS, "similarity.model_cache", lazy=False)
        return hooks
