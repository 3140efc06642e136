"""Spans around the engine's public functions, with Spark job and stage
metrics per span, recorded from outside the package.

A traced run replaces chosen module attributes of the package with
wrappers (``Tracer.wrap``). Intra-module calls resolve module globals at
call time, so ``merge_into`` → ``read_ref`` → ``commit_snapshot_ref``
nests without touching the package. Each span runs under its own Spark
job group; after each top-level op ``Tracer.collect`` reads the jobs of
every group from the status store. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

from perfbench import stats

_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    req: int
    start: float
    end: float = 0.0
    group: str = ""
    jobs: list[dict] = field(default_factory=list)
    run_ids: list[str] = field(default_factory=list)


class ProgressListener(StreamingQueryListener):
    """Collects Spark's own streaming progress events (both run modes)."""

    def __init__(self) -> None:
        self.started: list[str] = []
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.append(
            {"run_id": str(p.runId), "duration_ms": dict(p.durationMs), "input_rows": p.numInputRows}
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def drain_listener_bus(spark) -> None:
    """Wait until Spark has delivered every posted listener event, so the
    status store and the progress listener are complete."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class Tracer:
    """Span recorder. When ``enabled`` is False, ``span`` and ``collect``
    cost nothing and ``wrap`` patches nothing."""

    def __init__(self, spark, enabled: bool, listener: ProgressListener | None = None):
        self.spark = spark
        self.enabled = enabled
        self.listener = listener
        self.spans: list[Span] = []
        self.collect_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._pending: list[Span] = []
        self._claimed: set[str] = set()
        self._store = None

    # -- span stack -----------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, req: int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty(_GROUP_KEY)
        with self._lock:
            sid = next(self._ids)
        sp = Span(
            id=sid,
            name=name,
            parent=parent.id if parent else None,
            req=req if req is not None else (parent.req if parent else 0),
            start=time.time(),
            group=f"perfbench-{sid}",
        )
        sc.setLocalProperty(_GROUP_KEY, sp.group)
        started_before = len(self.listener.started) if self.listener else 0
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            sc.setLocalProperty(_GROUP_KEY, prev_group)
            with self._lock:
                if self.listener:  # a stream belongs to the innermost span it started in
                    sp.run_ids = [r for r in self.listener.started[started_before:] if r not in self._claimed]
                    self._claimed.update(sp.run_ids)
                self.spans.append(sp)
                self._pending.append(sp)

    def wrap(self, module, attr: str, namer) -> None:
        """Replace ``module.attr`` with a wrapper that opens a span named
        ``namer(*args, **kwargs)``; ``unwrap`` restores it."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(namer(*args, **kwargs)):
                return orig(*args, **kwargs)

        self._patched.append((module, attr, orig))
        setattr(module, attr, wrapper)

    def unwrap(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- Spark status -----------------------------------------------------
    def collect(self) -> None:
        """Attach job/stage metrics to spans closed since the last call.
        Runs after an op's timing ends; its own cost is ``collect_s``."""
        if not self.enabled or not self._pending:
            return
        t0 = time.perf_counter()
        drain_listener_bus(self.spark)
        if self._store is None:
            self._store = self.spark.sparkContext._jsc.sc().statusStore()
        tracker = self.spark.sparkContext.statusTracker()
        with self._lock:
            pending, self._pending = self._pending, []
        for sp in pending:
            ids = list(tracker.getJobIdsForGroup(sp.group))
            for rid in sp.run_ids:  # streaming micro-batches run under the run id
                ids += list(tracker.getJobIdsForGroup(rid))
            sp.jobs = [j for j in (self._job(i) for i in sorted(set(ids))) if j]
        self.collect_s += time.perf_counter() - t0

    def _job(self, job_id: int) -> dict | None:
        try:
            j = self._store.job(job_id)
        except Exception:  # evicted from the status store
            return None
        sub, comp = j.submissionTime(), j.completionTime()
        stage_ids = j.stageIds()
        return {
            "id": job_id,
            "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            "end": comp.get().getTime() / 1000.0 if comp.isDefined() else None,
            "stages": [self._stage(stage_ids.apply(i)) for i in range(stage_ids.size())],
        }

    def _stage(self, stage_id: int) -> dict:
        try:
            s = self._store.lastStageAttempt(stage_id)
        except Exception:
            return {"id": stage_id, "skipped": True}
        rec = {
            "id": stage_id,
            "skipped": s.status().toString() == "SKIPPED",
            "tasks": s.numCompleteTasks(),
            "run_ms": s.executorRunTime(),
            "gc_ms": s.jvmGcTime(),
            "shuffle_bytes": s.shuffleReadBytes() + s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "skew": None,
        }
        if rec["tasks"] >= 2 and not rec["skipped"]:
            gw = self.spark.sparkContext._gateway
            qs = gw.new_array(gw.jvm.double, 2)
            qs[0], qs[1] = 0.5, 1.0
            try:
                dist = self._store.taskSummary(stage_id, s.attemptId(), qs)
                if dist.isDefined():
                    run = dist.get().executorRunTime()
                    med, mx = run.apply(0), run.apply(1)
                    rec["skew"] = mx / med if med > 0 else None
            except Exception:
                pass
        return rec

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [sp.__dict__ for sp in self.spans]}, f)


# -- aggregation ----------------------------------------------------------
def _children(spans: list[Span]) -> dict[int, list[Span]]:
    kids: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    return kids


def span_metrics(spans: list[Span]) -> dict[str, dict]:
    """Per span name: wall, self, driver (wall minus the union of the
    span's Spark job intervals, its descendants' included), jobs, executor
    run time, tasks and shuffle. A stage shared by two jobs of one span
    counts once."""
    kids = _children(spans)

    def subtree(sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(kids.get(cur.id, []))
        return out

    agg: dict[str, dict] = {}
    for sp in spans:
        tree = subtree(sp)
        jobs = [j for s in tree for j in s.jobs]
        ivs = [
            (max(j["start"], sp.start), min(j["end"], sp.end))
            for j in jobs
            if j["start"] is not None and j["end"] is not None
        ]
        stages = {st["id"]: st for j in jobs for st in j["stages"] if not st.get("skipped")}
        a = agg.setdefault(
            sp.name,
            {"wall_s": 0.0, "self_s": 0.0, "driver_s": 0.0, "jobs": 0,
             "executor_run_s": 0.0, "tasks": 0, "shuffle_mb": 0.0},
        )
        wall = sp.end - sp.start
        a["wall_s"] += wall
        a["self_s"] += stats.self_time(sp.start, sp.end, [(c.start, c.end) for c in kids.get(sp.id, [])])
        a["driver_s"] += wall - stats.union_length(ivs)
        a["jobs"] += len(jobs)
        a["executor_run_s"] += sum(st["run_ms"] for st in stages.values()) / 1000.0
        a["tasks"] += sum(st["tasks"] for st in stages.values())
        a["shuffle_mb"] += sum(st["shuffle_bytes"] for st in stages.values()) / 1e6
    return agg


def totals(spans: list[Span]) -> dict:
    """Jobs, distinct stages, GC and spill over every span's own jobs."""
    jobs = [j for sp in spans for j in sp.jobs]
    stages = {st["id"]: st for j in jobs for st in j["stages"] if not st.get("skipped")}
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "gc_s": sum(st["gc_ms"] for st in stages.values()) / 1000.0,
        "spill_mb": sum(st["spill_bytes"] for st in stages.values()) / 1e6,
    }


def task_skew(spans: list[Span]) -> float:
    """Executor-run-time-weighted mean over stages of max/median task run time."""
    num = den = 0.0
    seen = set()
    for sp in spans:
        for j in sp.jobs:
            for st in j["stages"]:
                if st.get("skipped") or st.get("skew") is None or st["id"] in seen:
                    continue
                seen.add(st["id"])
                num += st["skew"] * st["run_ms"]
                den += st["run_ms"]
    return num / den if den else 1.0
