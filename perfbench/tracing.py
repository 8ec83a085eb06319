"""Spans around the benchmark's calls into each layer, with the Spark
work each span caused read back from the SparkContext's status store.

Every span runs its calls under its own Spark job group, so the jobs a
call submits can be listed afterwards with
``statusTracker().getJobIdsForGroup``; the stage metrics of those jobs
come from ``SparkContext.statusStore()``. Nothing inside the library is
instrumented. With tracing off, ``span`` only times the block, so both
modes run the same benchmark code.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Layers of functime_spark the benchmark calls, by module name, plus the
# session start-up. Every traced run reports all of them; a layer a
# workload does not call reads 0.
LAYERS = (
    "session",
    "functions.features",
    "functions.features_udf",
    "operators.preprocessing",
    "operators.cross_validation",
    "operators.metrics",
    "forecasting.fit",
    "forecasting.predict",
    "forecasting.backtest",
    "pipeline.dedup",
    "pipeline.similarity",
)
# Per layer and per pass (set-up, for the session): wall time of its
# spans; self time, the part not covered by its Spark jobs; plan time,
# the public call before the benchmark's action (for an eager call such
# as fit, the whole call); and, over the stages its jobs ran, tasks,
# executor CPU, shuffle read + write, JVM GC time and failed tasks.
LAYER_METRICS = (
    ("wall_s", "s"),
    ("self_s", "s"),
    ("plan_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("cpu_s", "s"),
    ("shuffle_mb", "MB"),
    ("gc_s", "s"),
    ("failed_tasks", "count"),
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    group: int  # id of the root span (a pass or a set-up) it belongs to
    start: float  # epoch seconds
    end: float = 0.0
    plan_end: float | None = None
    # engine work, filled in by Tracer.resolve()
    jobs: list = field(default_factory=list)  # (job id, submit, complete) epoch s
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0

    def planned(self) -> None:
        """Mark the end of the lazy call, before the benchmark's action."""
        self.plan_end = time.time()


class Tracer:
    """Collects spans in memory; ``enabled=False`` makes it a timer."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._seen_stages: set[int] = set()
        self._unresolved: list[Span] = []

    def bind(self, spark) -> None:
        """Attach to a new SparkContext, or detach with None before the
        current one stops; open spans take the new context's job groups."""
        self._sc = spark.sparkContext if spark is not None else None
        self._seen_stages = set()
        if self.enabled and self._stack:
            self._set_group(self._stack[-1])

    def _set_group(self, sp: Span | None) -> None:
        if self._sc is None:
            return
        if sp is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"perfbench-{sp.id}", sp.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            group=parent.group if parent else len(self.spans),
            start=time.time(),
        )
        if self.enabled:
            self.spans.append(sp)
            self._stack.append(sp)
            self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self.enabled:
                self._stack.pop()
                self._unresolved.append(sp)
                self._set_group(self._stack[-1] if self._stack else None)

    def resolve(self) -> None:
        """Read the engine metrics of every finished span's jobs.

        Call between passes, outside timed regions: it waits for the
        listener bus so the status store holds every finished stage.
        A stage is charged to the first span whose jobs ran it; later
        jobs that reuse its shuffle output list it as skipped."""
        if not self.enabled or self._sc is None or not self._unresolved:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        for sp in sorted(self._unresolved, key=lambda s: s.id):
            for jid in sorted(tracker.getJobIdsForGroup(f"perfbench-{sp.id}")):
                jd = store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                sp.jobs.append((
                    jid,
                    sub.get().getTime() / 1e3 if sub.isDefined() else sp.start,
                    done.get().getTime() / 1e3 if done.isDefined() else sp.end,
                ))
                for sid in _ints(jd.stageIds().mkString(",")):
                    if sid in self._seen_stages:
                        continue
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    self._seen_stages.add(sid)
                    sp.tasks += sd.numCompleteTasks() + sd.numFailedTasks() + sd.numKilledTasks()
                    sp.failed_tasks += sd.numFailedTasks()
                    sp.run_s += sd.executorRunTime() / 1e3
                    sp.cpu_s += sd.executorCpuTime() / 1e9
                    sp.gc_s += sd.jvmGcTime() / 1e3
                    sp.shuffle_mb += (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / 1e6
        self._unresolved = []

    # -- derived metrics ---------------------------------------------

    def _children(self, sp: Span) -> list:
        return [s for s in self.spans if s.parent == sp.id]

    def self_s(self, sp: Span) -> float:
        """Span time not covered by its child spans or by its own jobs
        (each job is an engine child span of the call that caused it)."""
        covered = [(c.start, c.end) for c in self._children(sp)]
        covered += [(s, e) for _, s, e in sp.jobs]
        return (sp.end - sp.start) - _union_length(covered, sp.start, sp.end)

    def layer_metrics(self) -> dict:
        """Each layer metric summed over the layer's spans in one root
        span (a pass, or a set-up for ``session``), then the median over
        the roots that called the layer; 0 for a layer never called."""
        per_root: dict = {}
        for sp in self.spans:
            if sp.name not in LAYERS:
                continue
            tot = per_root.setdefault(sp.name, {}).setdefault(
                sp.group, dict.fromkeys((m for m, _ in LAYER_METRICS), 0)
            )
            vals = {
                "wall_s": sp.end - sp.start,
                "self_s": self.self_s(sp),
                "plan_s": (sp.plan_end or sp.end) - sp.start,
                "jobs": len(sp.jobs),
                "tasks": sp.tasks,
                "cpu_s": sp.cpu_s,
                "shuffle_mb": sp.shuffle_mb,
                "gc_s": sp.gc_s,
                "failed_tasks": sp.failed_tasks,
            }
            for k, v in vals.items():
                tot[k] += v
        out = {}
        for layer in LAYERS:
            roots = list(per_root.get(layer, {}).values())
            for m, unit in LAYER_METRICS:
                v = statistics.median(r[m] for r in roots) if roots else 0
                out[f"{layer}.{m}"] = (v, unit)
        return out

    def busy_frac(self, root_name: str, cores: int) -> float:
        """Executor run time / (wall x cores), median over the roots
        named ``root_name``: the share of task slots doing work."""
        fracs = []
        for root in (s for s in self.spans if s.name == root_name and s.parent is None):
            run = sum(s.run_s for s in self.spans if s.group == root.id)
            fracs.append(run / ((root.end - root.start) * cores))
        return statistics.median(fracs) if fracs else 0.0

    def to_json(self) -> list:
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "plan_end": s.plan_end,
                "jobs": [{"id": j, "start": a, "end": b} for j, a, b in s.jobs],
                "tasks": s.tasks,
                "failed_tasks": s.failed_tasks,
                "executor_run_s": s.run_s,
                "cpu_s": s.cpu_s,
                "gc_s": s.gc_s,
                "shuffle_mb": s.shuffle_mb,
            }
            for s in self.spans
        ]


def _ints(csv: str) -> list:
    return [int(x) for x in csv.split(",") if x]


def _union_length(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
