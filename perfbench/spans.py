"""Span collector for the benchmark's traced run.

Each call into a layer runs under its own Spark job group. When the
traced load ends, the collector drains the listener bus and reads the
status store for each span's jobs and stages:

- executor time is the sum of stage ``executorRunTime`` and
  ``executorCpuTime`` (never ``ExecutorSummary.totalDuration``, which
  grows with wall time, not with task time);
- ``driver_s`` is the span's wall minus the time its jobs covered, i.e.
  Python plan construction, Catalyst and scheduling;
- ``core_util`` is executor run time / (wall x cores).

Spans (name, layer, start, end, parent, run id) stay in memory and are
written out by :meth:`Tracer.write` when the run ends. Lazy evaluation
means a sink call's executor time includes the deferred transform stages
its write triggers; the per-layer table says so rather than moving that
time to ``plans``.
"""

from __future__ import annotations

import itertools
import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1024.0 * 1024.0

#: Status-store retention for traced runs: a load runs ~150-400 jobs and
#: more stages, and the collector reads them after the load ends.
RETENTION_CONF = {"spark.ui.retainedJobs": "20000", "spark.ui.retainedStages": "20000"}

#: Stage counters summed per span: status-store getter -> (metric, scale).
_STAGE_SUMS = {
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleReadBytes": ("shuffle_read_mb", 1 / MB),
    "shuffleWriteBytes": ("shuffle_write_mb", 1 / MB),
    "diskBytesSpilled": ("spill_mb", 1 / MB),
    "numCompleteTasks": ("tasks", 1),
}


@dataclass
class Span:
    name: str
    layer: str | None
    run_id: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    #: Counters filled from the status store, plus any the caller adds.
    stats: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Spans of one benchmark process, keyed by a run id per load."""

    def __init__(self, spark, run_prefix: str):
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self.run_prefix = run_prefix
        # unique per tracer: two tracers of one session must not share job
        # groups (id(self) can repeat once a tracer is freed)
        self._token = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._run_id = run_prefix

    def _persisted(self) -> set:
        return set(self.sc._jsc.getPersistentRDDs().keySet())  # noqa: SLF001

    def _group(self, span: Span) -> str:
        return f"{self.run_prefix}:{self._token}:{span.span_id}"

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(name, layer, self._run_id, next(self._ids), parent, time.perf_counter())
        if parent is None:
            self._run_id = f"{self.run_prefix}:{s.span_id}"
            s.run_id = self._run_id
        self.spans.append(s)
        self._stack.append(s)
        persisted = self._persisted()
        self.sc.setJobGroup(self._group(s), name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            new = self._persisted() - persisted
            s.stats["persisted"] = len(new)
            # localCheckpoint pins its RDD like a persist; tell them apart
            rdds = self.sc._jsc.getPersistentRDDs()  # noqa: SLF001
            s.stats["checkpoints"] = sum(
                bool(rdds.get(i).rdd().isLocallyCheckpointed()) for i in new
            )
            self._stack.pop()
            outer = self._stack[-1] if self._stack else None
            self.sc.setJobGroup(
                self._group(outer) if outer else f"{self.run_prefix}:{self._token}:untraced", ""
            )

    def collect(self, root: Span) -> None:
        """Fill job and stage counters of ``root``'s spans from the status
        store. Call after the root span ends, so reading the store is not
        inside any timed span."""
        jsc = self.sc._jsc.sc()  # noqa: SLF001
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        # perf_counter and the store's epoch milliseconds differ by an offset
        offset = time.time() - time.perf_counter()
        for s in self.spans:
            if s.run_id != root.run_id:
                continue
            stats = {k: 0.0 for k, _ in _STAGE_SUMS.values()}
            intervals, stage_ids, descs = [], set(), []
            job_ids = sorted(tracker.getJobIdsForGroup(self._group(s)))
            for j in job_ids:
                job = store.job(j)
                sub, comp = job.submissionTime(), job.completionTime()
                if sub.isDefined() and comp.isDefined():
                    intervals.append((sub.get().getTime() / 1e3 - offset,
                                      comp.get().getTime() / 1e3 - offset))
                desc = job.description()
                descs.append(desc.get() if desc.isDefined() else job.name())
                ids = job.stageIds()
                stage_ids.update(ids.apply(i) for i in range(ids.size()))
            stats["stages_missing"] = 0
            for sid in stage_ids:
                try:
                    stage = store.lastStageAttempt(sid)
                except Py4JJavaError:  # never submitted, or evicted from the store
                    stats["stages_missing"] += 1
                    continue
                if str(stage.status()) != "COMPLETE":
                    continue  # skipped stages ran in an earlier job
                for getter, (metric, scale) in _STAGE_SUMS.items():
                    stats[metric] += getattr(stage, getter)() * scale
            stats["jobs"] = len(job_ids)
            covered = _covered(intervals)
            stats["jobs_covered_s"] = covered
            stats["driver_s"] = max(s.wall - covered, 0.0)
            stats["job_descriptions"] = descs
            s.stats.update(stats)

    def children(self, root: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == root.span_id]

    def write(self, path: str, env: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps({"env": env}) + "\n")
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "wall": s.wall}) + "\n")


def layer_table(tracer: Tracer, root: Span) -> dict[str, dict[str, float]]:
    """Per-layer sums over ``root``'s direct children. Calls do not nest,
    so a layer's ``wall_s`` is its self time, and the layers' self times
    plus the benchmark's own glue between calls make up the root span."""
    layers: dict[str, dict[str, float]] = {}
    for s in tracer.children(root):
        row = layers.setdefault(s.layer, {"wall_s": 0.0, "calls": 0})
        row["wall_s"] += s.wall
        row["calls"] += 1
        for k, v in s.stats.items():
            if isinstance(v, (int, float)):
                row[k] = row.get(k, 0.0) + v
    for row in layers.values():
        row["core_util"] = row.get("executor_run_s", 0.0) / max(
            row["wall_s"] * tracer.cores, 1e-9
        )
    return layers
