"""Layer spans taken from outside the engine.

:class:`LayerTracer` replaces the public functions of the package's
layer modules with wrappers, so no engine file changes. Each call gets
its own Spark job group and a span (name, start, end, parent). On exit
the wrapper reads the stages of the jobs that ran under that group
from Spark's status store. A parent's group is restored when a child
returns, so every job is charged to the innermost open span: the
stage metrics of a span are its own (self) work, like ``self_s``.

Known limit: spans see only layer boundaries. Jobs that a layer builds
lazily run under whichever span triggers them. The triples action of a
call runs in ``checkpoint.run_resumable`` itself, and the first job
that reads the ``ent_pre`` cache is the connected-components probe, so
``graph.connected_components`` also carries the rollup's map stage.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

#: (span name, module, attribute). The module is looked up at install
#: time; callers inside the package resolve these names through the
#: module at call time, so replacing the attribute intercepts them.
LAYERS = [
    ("checkpoint.run_resumable", "qizner_spark.plans.checkpoint", "run_resumable"),
    ("checkpoint.recover_sink", "qizner_spark.plans.checkpoint", "recover_sink"),
    ("pipeline.build_kg", "qizner_spark.plans.pipeline", "build_kg"),
    ("pipeline.assemble_kg", "qizner_spark.plans.pipeline", "assemble_kg"),
    ("graph.connected_components", "qizner_spark.operators.graph", "connected_components"),
]

#: per-span fields, in report order
SPAN_FIELDS = [
    ("wall_s", "s"), ("self_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "MB"), ("spill_mb", "MB"), ("task_skew", "ratio"),
]

_MB = 1024.0 * 1024.0


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    stats: dict = field(default_factory=dict)
    path: str | None = None  # graph.connected_components only
    mentions: int | None = None  # pipeline.build_kg only
    after_s: float = 0.0  # tracer time after the call returned

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class LayerTracer:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        #: time spent in the tracer's own reads and probes, not in layers
        self.bookkeeping_s = 0.0
        self._stack: list[Span] = []
        self._originals: list[tuple[object, str, object]] = []

    # -- install / uninstall -------------------------------------------------
    def install(self) -> "LayerTracer":
        import importlib

        for name, modname, attr in LAYERS:
            mod = importlib.import_module(modname)
            orig = getattr(mod, attr)
            self._originals.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(name, orig))
        return self

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._originals):
            setattr(mod, attr, orig)
        self._originals.clear()

    # -- spans ---------------------------------------------------------------
    def _group(self, span: Span) -> str:
        return f"perfbench-span-{span.sid}"

    def _restore(self, parent: Span | None) -> None:
        if parent is not None:
            self.sc.setJobGroup(self._group(parent), parent.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            parent = tracer._stack[-1] if tracer._stack else None
            span = Span(len(tracer.spans), name, parent.sid if parent else None,
                        time.perf_counter())
            tracer.spans.append(span)
            tracer._stack.append(span)
            tracer.sc.setJobGroup(tracer._group(span), name)
            try:
                out = fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                tracer._stack.pop()
                tracer._restore(parent)
                span.stats = tracer._group_stats(tracer._group(span))
            if name == "graph.connected_components" and isinstance(out, DataFrame):
                span.path = plan_path(out)
            if name == "pipeline.build_kg" and isinstance(out, dict) and "mentions" in out:
                # the mention table is cached by build_kg: counting it is
                # one short job, kept out of every span's group and time
                tracer.sc.setJobGroup("perfbench-probe", "mention count")
                span.mentions = out["mentions"].count()
                tracer._restore(parent)
            # the tracer's own cost (stage reads, path check, probe): the
            # parent's self time excludes it as it excludes a child's wall
            span.after_s = time.perf_counter() - span.end
            tracer.bookkeeping_s += span.after_s
            return out

        traced.__wrapped__ = fn
        return traced

    def _group_stats(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = list(tracker.getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"jobs": len(jobs), "tasks": 0, "executor_run_s": 0.0,
               "executor_cpu_s": 0.0, "shuffle_write_mb": 0.0,
               "shuffle_read_mb": 0.0, "spill_mb": 0.0, "task_skew": 1.0}
        heaviest = (-1.0, None)
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the status store
                continue
            if st.status().toString() == "SKIPPED":
                continue
            run_s = st.executorRunTime() / 1e3
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += run_s
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            out["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            out["spill_mb"] += st.diskBytesSpilled() / _MB
            if run_s > heaviest[0]:
                heaviest = (run_s, (sid, st.attemptId()))
        if heaviest[1] is not None:
            out["task_skew"] = self._skew(store, *heaviest[1])
        return out

    def _skew(self, store, stage_id: int, attempt: int) -> float:
        """max / median task run time of one stage attempt."""
        gw = self.sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        dist = store.taskSummary(stage_id, attempt, qs)
        if not dist.isDefined():
            return 1.0
        run = dist.get().executorRunTime()
        med, mx = float(run.apply(0)), float(run.apply(1))
        return mx / max(med, 1.0)

    # -- aggregation ---------------------------------------------------------
    def rounds(self, boundaries: list[tuple[float, float]]) -> list[dict[str, dict]]:
        """Per round (a (start, end) window), the summed fields of every
        span of each layer that started inside it."""
        out = []
        for t0, t1 in boundaries:
            per: dict[str, dict] = {}
            for s in self.spans:
                if not (t0 <= s.start < t1):
                    continue
                child = sum(c.wall_s + c.after_s for c in self.spans if c.parent == s.sid)
                row = per.setdefault(s.name, {k: 0.0 for k, _ in SPAN_FIELDS} | {"_skews": []})
                row["wall_s"] += s.wall_s
                row["self_s"] += s.wall_s - child
                for k in ("jobs", "tasks", "executor_run_s", "executor_cpu_s",
                          "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
                    row[k] += s.stats.get(k, 0.0)
                row["_skews"].append(s.stats.get("task_skew", 1.0))
            for row in per.values():
                row["task_skew"] = max(row.pop("_skews"))
            out.append(per)
        return out

    def paths(self) -> list[str]:
        return [s.path for s in self.spans if s.path is not None]


def plan_path(df: DataFrame) -> str:
    """``driver`` when the component map is a leaf relation built on
    the driver (union-find result handed back as local rows),
    ``distributed`` when it is the large-star/small-star aggregate."""
    plan = df._jdf.queryExecution().analyzed()
    return "driver" if plan.children().isEmpty() else "distributed"


def median_rounds(rounds: list[dict[str, dict]], name: str, fld: str) -> float:
    vals = [r.get(name, {}).get(fld, 0.0) for r in rounds]
    return statistics.median(vals) if vals else 0.0
