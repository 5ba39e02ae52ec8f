"""Span tracing from outside the program.

``Tracer.instrument()`` replaces every public function of the traced
modules (and the public methods of the application services) with a
wrapper that records a span and tags the Spark jobs started inside it
with a job group named after the span. Nothing in the program changes:
the wrappers live here and are removed by ``Tracer.restore()``.

A span records its layer, function, start, end, parent and request id.
A call into a layer from inside the same layer (``run_transformer``
calling ``build_edges``) is counted but opens no new span, so a
layer's ``calls`` are entries into it from outside. Spans stay in
memory; before each SparkContext stops, ``harvest()`` reads each job
group's tasks, executor run time and shuffle/spill bytes from Spark's
own status store.

Jobs are charged to the innermost open span when Spark submits them.
Most layer functions return lazy DataFrames, so work that a caller
triggers later (``.collect()`` on a frame ``search.fuzzy`` built) is
charged to the caller's span, not to the layer that built the plan.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import time
from dataclasses import dataclass, field

PKG = "social_link_prediction_spark"
LAYERS = (
    "session", "sources.json_flatten", "pipelines.transformer", "search.fuzzy",
    "graph.build", "graph.paths", "graph.pagerank", "ml.linksplit", "ml.predict",
    "application",
)
SERVICES = ("AnalysisService", "AIService")
LAYER_METRICS = {
    "calls": "count", "self_s": "s", "jobs": "count", "tasks": "count",
    "tasks_failed": "count", "executor_run_s": "s", "shuffle_bytes": "bytes",
    "spill_bytes": "bytes", "driver_share": "ratio",
}
STAGE_METRICS = ("tasks", "tasks_failed", "executor_run_s", "shuffle_bytes", "spill_bytes")
RATIOS = {
    "pipelines.transformer.keep_ratio": "higher",
    "search.fuzzy.exact_hit_ratio": "higher",
    "graph.paths.reached_ratio": "higher",
    "ml.linksplit.negative_keep_ratio": "higher",
    "application.jobs_per_request": "lower",
}


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: int | None
    request: int | None
    start: float
    end: float = 0.0
    jobs: list[str] = field(default_factory=list)


class Tracer:
    """Records spans in memory; one per benchmark process."""

    def __init__(self):
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.calls: dict[str, int] = {}
        self.request: int | None = None
        self._patches: list[tuple[object, str, object]] = []
        self._sc = None
        self._contexts = 0
        self.stage_metrics: dict[int, dict[str, float]] = {}
        self.unattributed = {"jobs": 0} | dict.fromkeys(STAGE_METRICS, 0.0)

    # --- spans -------------------------------------------------------
    def bind(self, spark) -> None:
        """Point job-group tagging at the current SparkContext."""
        self._sc = spark.sparkContext

    def _set_group(self, gid: str | None) -> None:
        if self._sc is not None and self._sc._jsc is not None:
            self._sc.setLocalProperty("spark.jobGroup.id", gid)

    def span(self, layer: str, name: str):
        return _SpanCtx(self, layer, name)

    def _open(self, layer: str, name: str) -> Span:
        parent = self.stack[-1].sid if self.stack else None
        s = Span(len(self.spans), layer, name, parent, self.request, time.perf_counter())
        self.spans.append(s)
        self.stack.append(s)
        self._set_group(f"pb-{s.sid}")
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self.stack.pop()
        self._set_group(f"pb-{self.stack[-1].sid}" if self.stack else None)

    # --- instrumentation ---------------------------------------------
    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            tracer.calls[name] = tracer.calls.get(name, 0) + 1
            if tracer.stack and tracer.stack[-1].layer == layer:
                return fn(*args, **kwargs)
            with tracer.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def instrument(self) -> None:
        """Wrap the layers' public functions. Every layer is imported
        before the first patch, so a name another module bound with
        ``from <layer> import <name>`` keeps the original function: such
        calls are not traced, in every run alike."""
        mods = {layer: importlib.import_module(f"{PKG}.{layer}") for layer in LAYERS}
        for layer, mod in mods.items():
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(obj):
                    continue
                if obj.__module__ == mod.__name__:
                    self._patch(mod, attr, self._wrap(obj, layer, f"{layer}.{attr}"))
            if layer == "application":
                for cls in SERVICES:
                    klass = getattr(mod, cls)
                    for attr, obj in list(vars(klass).items()):
                        if inspect.isfunction(obj) and (attr == "__init__" or not attr.startswith("_")):
                            self._patch(klass, attr, self._wrap(obj, layer, f"{cls}.{attr}"))

    def restore(self) -> None:
        for owner, attr, old in reversed(self._patches):
            setattr(owner, attr, old)
        self._patches.clear()

    # --- status store ------------------------------------------------
    def harvest(self, spark) -> None:
        """Charge every finished job of this SparkContext to the span
        whose group it carries and add its stages' metrics to that span.
        Call before each ``spark.stop()``: a new context starts an empty
        status store and numbers its jobs from 0 again."""
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        stage_owner: dict[int, int] = {}
        job_span: dict[int, int | None] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            grp = j.jobGroup()
            gid = grp.get() if grp.isDefined() else None
            sid = int(gid[3:]) if gid and gid.startswith("pb-") else None
            job_span[jid] = sid
            if sid is None:
                self.unattributed["jobs"] += 1
            else:
                self.spans[sid].jobs.append(f"{self._contexts}:{jid}")
            ids = j.stageIds()
            for k in range(ids.size()):
                st = ids.apply(k)
                if st not in stage_owner or jid < stage_owner[st]:
                    stage_owner[st] = jid
        gw = spark.sparkContext._gateway
        stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0),
                                 gw.jvm.java.util.ArrayList())
        for i in range(stages.size()):
            st = stages.apply(i)
            if st.status().toString() == "SKIPPED":
                continue
            sid = job_span.get(stage_owner.get(st.stageId()))
            acc = self.unattributed if sid is None else self.stage_metrics.setdefault(
                sid, dict.fromkeys(STAGE_METRICS, 0.0))
            acc["tasks"] += st.numCompleteTasks() + st.numFailedTasks() + st.numKilledTasks()
            acc["tasks_failed"] += st.numFailedTasks()
            acc["executor_run_s"] += st.executorRunTime() / 1000.0
            acc["shuffle_bytes"] += st.shuffleWriteBytes()
            acc["spill_bytes"] += st.diskBytesSpilled()
        self._contexts += 1

    def layer_metrics(self, cores: int) -> dict[str, float]:
        """``<layer>.<metric>`` for every layer, zero where unused."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for layer in LAYERS:
            m = dict.fromkeys(LAYER_METRICS, 0.0)
            for s in self.spans:
                if s.layer != layer:
                    continue
                m["calls"] += 1
                m["self_s"] += (s.end - s.start) - child_time.get(s.sid, 0.0)
                m["jobs"] += len(s.jobs)
                for k, v in self.stage_metrics.get(s.sid, {}).items():
                    m[k] += v
            if m["self_s"] > 0:
                m["driver_share"] = 1.0 - m["executor_run_s"] / (m["self_s"] * cores)
            for k, v in m.items():
                out[f"{layer}.{k}"] = v
        return out

    def request_jobs(self) -> tuple[int, int]:
        """(jobs started inside request spans, number of requests)."""
        roots = {s.request for s in self.spans if s.request is not None}
        jobs = sum(len(s.jobs) for s in self.spans if s.request is not None)
        return jobs, len(roots)

    def dump(self) -> list[dict]:
        return [
            {"id": s.sid, "layer": s.layer, "name": s.name, "parent": s.parent,
             "request": s.request, "start": s.start, "end": s.end, "jobs": s.jobs}
            for s in self.spans
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str, name: str):
        self.tracer, self.layer, self.name = tracer, layer, name

    def __enter__(self) -> Span:
        self.s = self.tracer._open(self.layer, self.name)
        return self.s

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.s)


class NullTracer:
    """Tracing off: the same interface, no spans, no job groups."""

    request = None

    def bind(self, spark) -> None:
        pass

    def harvest(self, spark) -> None:
        pass

    def span(self, layer: str, name: str):
        return _Null()


class _Null:
    def __enter__(self):
        return None

    def __exit__(self, *exc) -> None:
        pass
