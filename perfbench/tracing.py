"""Span tracing around the calls the benchmark makes into each layer.

A layer is a module of the package. ``Tracer.instrument`` replaces each
public function of the traced modules with a wrapper that records a
span, so calls made through the module attribute (the benchmark's own
calls, and the package's call-time imports) are caught. Every span runs
its Spark jobs under its own job group, and at span end the job, task
and failed-task counts of that group are read from ``statusTracker()``.
Spans stay in memory; ``dump`` writes them out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import json
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

# Layer name -> modules whose public functions it owns. The SQL builders
# of plans.generate / plans.catalog are charged to the generation layer.
LAYERS = {
    "session": ["synthetic_data_pipeline_spark.session"],
    "sources.renditions": ["synthetic_data_pipeline_spark.sources.renditions"],
    "operators.generation": [
        "synthetic_data_pipeline_spark.operators.generation",
        "synthetic_data_pipeline_spark.plans.generate",
        "synthetic_data_pipeline_spark.plans.catalog",
    ],
    "operators.dedup": ["synthetic_data_pipeline_spark.operators.dedup"],
    "operators.sketches": ["synthetic_data_pipeline_spark.operators.sketches"],
    "operators.textops": ["synthetic_data_pipeline_spark.operators.textops"],
    "operators.assembly": ["synthetic_data_pipeline_spark.operators.assembly"],
    "plans.release": ["synthetic_data_pipeline_spark.plans.release"],
    "operators.relational": ["synthetic_data_pipeline_spark.operators.relational"],
    "operators.events": ["synthetic_data_pipeline_spark.operators.events"],
    "operators.subqueries": ["synthetic_data_pipeline_spark.operators.subqueries"],
    "operators.similarity": ["synthetic_data_pipeline_spark.operators.similarity"],
    "streaming.jobs": ["synthetic_data_pipeline_spark.streaming.jobs"],
}
COUNTERS = ("busy_s", "calls", "spark_jobs", "spark_tasks", "failed_tasks")


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    children: list[tuple[float, float]] = field(default_factory=list)
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    def self_s(self) -> float:
        """Duration minus the part of it that child spans cover."""
        covered, reach = 0.0, self.start
        for s, e in sorted(self.children):
            s, e = max(s, reach), min(e, self.end)
            if e > s:
                covered += e - s
                reach = e
        return (self.end - self.start) - covered


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op
    so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._patched: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0

    def bind(self, spark) -> None:
        self.spark = spark

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), layer, name, parent.id if parent else None, 0.0)
        self._set_group(f"pb-span-{sp.id}")
        self._stack.append(sp)
        self.bookkeeping_s += time.perf_counter() - t0
        sp.start = time.perf_counter()
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            t1 = sp.end
            self._stack.pop()
            self._count_jobs(sp, f"pb-span-{sp.id}")
            self._set_group(f"pb-span-{parent.id}" if parent else None)
            if parent is not None:
                parent.children.append((sp.start, sp.end))
            self.spans.append(sp)
            self.bookkeeping_s += time.perf_counter() - t1

    def charge_groups(self, layer: str, groups: list[str]) -> None:
        """Add the Spark work of job groups started outside any span
        (streaming queries run under their run id) to ``layer``."""
        if not self.enabled:
            return
        sp = Span(next(self._ids), layer, "job-groups", None, 0.0)
        for g in groups:
            self._count_jobs(sp, g)
        self.spans.append(sp)

    def _set_group(self, group: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    def _count_jobs(self, sp: Span, group: str) -> None:
        if self.spark is None:
            return
        st = self.spark.sparkContext.statusTracker()
        for jid in st.getJobIdsForGroup(group):
            sp.jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is not None:
                    sp.tasks += stage.numCompletedTasks
                    sp.failed_tasks += stage.numFailedTasks

    # -- instrumentation -------------------------------------------------

    def instrument(self) -> None:
        """Wrap every public function defined in each layer's modules."""
        if not self.enabled:
            return
        for layer, mods in LAYERS.items():
            for mod_name in mods:
                mod = importlib.import_module(mod_name)
                for attr, obj in list(vars(mod).items()):
                    if (
                        attr.startswith("_")
                        or not inspect.isfunction(obj)
                        or obj.__module__ != mod_name
                        or hasattr(obj, "evalType")  # pandas/py UDF objects
                    ):
                        continue
                    setattr(mod, attr, self._wrap(layer, attr, obj))
                    self._patched.append((mod, attr, obj))

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        # functools.wraps copies __module__/__qualname__, so when Spark
        # pickles the wrapper into a task it goes by reference and the
        # worker runs the plain, untraced module function
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(layer, name):
                return fn(*args, **kwargs)

        return wrapper

    def restore(self) -> None:
        for mod, attr, obj in reversed(self._patched):
            setattr(mod, attr, obj)
        self._patched.clear()

    # -- reporting -------------------------------------------------------

    def layer_totals(self) -> dict[str, float]:
        out = {f"{layer}.{c}": 0.0 for layer in LAYERS for c in COUNTERS}
        for sp in self.spans:
            out[f"{sp.layer}.busy_s"] += sp.self_s() if sp.end else 0.0
            out[f"{sp.layer}.calls"] += 1 if sp.end else 0
            out[f"{sp.layer}.spark_jobs"] += sp.jobs
            out[f"{sp.layer}.spark_tasks"] += sp.tasks
            out[f"{sp.layer}.failed_tasks"] += sp.failed_tasks
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [
                        {
                            "id": s.id, "layer": s.layer, "name": s.name,
                            "parent": s.parent, "start": s.start, "end": s.end,
                            "self_s": s.self_s() if s.end else 0.0,
                            "spark_jobs": s.jobs, "spark_tasks": s.tasks,
                            "failed_tasks": s.failed_tasks,
                        }
                        for s in self.spans
                    ],
                    **extra,
                },
                fh,
                indent=1,
            )


class StreamProgress(StreamingQueryListener):
    """Collects every micro-batch's progress (durations in ms, input
    rows) and the run ids of started queries."""

    def __init__(self):
        self.batches: list[dict] = []
        self.run_ids: list[str] = []

    def onQueryStarted(self, event):
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        self.batches.append(
            {
                "run_id": str(p.runId),
                "batch_id": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, n_batches: int, timeout_s: float = 10.0) -> None:
        """Progress events arrive asynchronously on the listener bus."""
        deadline = time.monotonic() + timeout_s
        while len(self.batches) < n_batches and time.monotonic() < deadline:
            time.sleep(0.05)
