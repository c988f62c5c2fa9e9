"""Per-layer tracing from outside the program.

``layers.install`` replaces public functions of the engine's modules with
``Tracer`` wrappers (module and class attributes only; no source is
edited) that open a span per call. Each span sets a Spark job group while it is the
innermost open span and restores its parent's group on exit, so every
job is attributed to exactly one span. After each operation the tracer
reads, per job group, the job ids from ``statusTracker`` and per stage
the task count, executor CPU, shuffle-write and spill bytes from the
status store.

Spans are kept in memory and written as JSON when the run ends. A span's
self time is its duration minus the time covered by its child spans.
"""

from __future__ import annotations

import collections
import functools
import json
import os
import time

from py4j.protocol import Py4JJavaError

LAYERS = (
    "session",
    "plans.queries",
    "plans.analytics",
    "plans.training",
    "plans.retrieval",
    "plan_cache",
    "pipeline",
    "transforms",
    "warehouse.loads",
    "warehouse.persist",
    "backfill",
)

#: metric suffix -> (unit, better), for every layer
COMMON_UNITS = {
    "calls": ("count", "lower"),
    "self_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "stages": ("count", "lower"),
    "tasks": ("count", "lower"),
    "executor_cpu_s": ("s", "lower"),
    "shuffle_write_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
}

#: layer-specific metrics: name -> (unit, better)
EXTRA_UNITS = {
    **{f"plans.{f}.{k}": ("s", "lower")
       for f in ("queries", "analytics", "training", "retrieval")
       for k in ("build_s", "exec_s")},
    "plan_cache.hit_ratio": ("ratio", "higher"),
    "plan_cache.cached_calls": ("count", "lower"),
    "warehouse.persist.files_written": ("count", "lower"),
    "warehouse.persist.bytes_written_mb": ("MB", "lower"),
    "warehouse.persist.publish_attempts": ("count", "lower"),
    "warehouse.persist.store_bytes_per_input_byte": ("ratio", "lower"),
    "pipeline.failed_branches": ("count", "lower"),
    "pipeline.retried_branches": ("count", "lower"),
    "backfill.bronze_rows_per_s": ("1/s", "higher"),
    "session.jvm_peak_rss_mb": ("MB", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.unattributed_jobs": ("count", "lower"),
}


def metric_units() -> dict[str, tuple[str, str]]:
    """Every per-layer metric name -> (unit, better), in report order."""
    out = {f"{layer}.{k}": u for layer in LAYERS for k, u in COMMON_UNITS.items()}
    out.update(EXTRA_UNITS)
    return out


class Span:
    __slots__ = ("sid", "layer", "name", "parent", "start", "end", "child_s", "jobs", "stages")

    def __init__(self, sid: int, layer: str, name: str, parent: "Span | None"):
        self.sid = sid
        self.layer = layer
        self.name = name
        self.parent = parent
        self.start = time.perf_counter()
        self.end = 0.0
        self.child_s = 0.0
        self.jobs: list[int] = []
        #: completed stages its jobs ran: [stage id, name, tasks,
        #: executor CPU s, shuffle-write MB, spilled MB]
        self.stages: list[list] = []

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"

    def to_json(self, t0: float) -> dict:
        return {
            "id": self.sid,
            "layer": self.layer,
            "name": self.name,
            "parent": self.parent.sid if self.parent else None,
            "start_s": round(self.start - t0, 6),
            "end_s": round(self.end - t0, 6),
            "self_s": round(self.end - self.start - self.child_s, 6),
            "jobs": self.jobs,
            "stages": self.stages,
        }


class Tracer:
    """Span recorder. ``enabled`` gates recording, so wrappers can stay
    installed through phases that are not measured (warm-up, checks)."""

    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.counters: collections.Counter = collections.Counter()
        self.overhead_s = 0.0
        self._pending: list[Span] = []
        self._seen_stages: set[int] = set()
        self._t0 = time.perf_counter()
        self._unattributed_base = None

    # -- spans ---------------------------------------------------------
    @staticmethod
    def _sc():
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def _set_group(self, span: "Span | None") -> None:
        sc = self._sc()
        if sc is None:
            return
        if span is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(span.group, span.name)

    def open(self, layer: str, name: str = "") -> "Span | None":
        if not self.enabled:
            return None
        t = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        span = Span(len(self.spans), layer, name or layer, parent)
        self.spans.append(span)
        self.stack.append(span)
        self._set_group(span)
        self.overhead_s += time.perf_counter() - t
        span.start = time.perf_counter()
        return span

    def close(self, span: "Span | None") -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        t = span.end
        self.stack.pop()
        if span.parent is not None:
            span.parent.child_s += span.end - span.start
        self._set_group(self.stack[-1] if self.stack else None)
        self._pending.append(span)
        if not self.stack:
            self.harvest()
        self.overhead_s += time.perf_counter() - t

    # -- job statistics ------------------------------------------------
    def begin_phase(self) -> None:
        """Start recording; jobs outside any span from here on count as
        unattributed."""
        sc = self._sc()
        if sc is not None and self._unattributed_base is None:
            self._unattributed_base = set(sc.statusTracker().getJobIdsForGroup(None))
        self.enabled = True

    def unattributed_jobs(self) -> int:
        sc = self._sc()
        if sc is None or self._unattributed_base is None:
            return 0
        now = set(sc.statusTracker().getJobIdsForGroup(None))
        return len(now - self._unattributed_base)

    def harvest(self) -> None:
        """Attach job ids and stage statistics to every closed span not
        yet harvested. Runs when the outermost span closes, when every
        job it started has ended."""
        sc = self._sc()
        if sc is None:
            self._pending.clear()
            return
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        owner = {}
        for span in self._pending:
            span.jobs = sorted(tracker.getJobIdsForGroup(span.group))
            owner.update(dict.fromkeys(span.jobs, span))
        # a later job lists a reused shuffle stage again; the earliest job
        # listing a stage is the one that ran it
        for jid in sorted(owner):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # never submitted
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                owner[jid].stages.append([
                    sid, st.name(), st.numTasks(), st.executorCpuTime() / 1e9,
                    st.shuffleWriteBytes() / 1e6,
                    (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6,
                ])
        self._pending.clear()

    # -- wrapping ------------------------------------------------------
    def wrap(self, layer: str, fn, name: str = ""):
        tracer = self
        label = name or getattr(fn, "__name__", layer)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer.open(layer, label)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(span)

        return traced

    def patch(self, owner, attr: str, layer: str, wrapper=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper (``wrapper`` builds
        it from the original when given)."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        setattr(owner, attr, wrapper(orig) if wrapper else self.wrap(layer, orig, attr))

    # -- reporting -----------------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        out = {f"{layer}.{k}": 0.0 for layer in LAYERS for k in COMMON_UNITS}
        for span in self.spans:
            pre = span.layer
            out[f"{pre}.calls"] += 1
            out[f"{pre}.self_s"] += span.end - span.start - span.child_s
            out[f"{pre}.jobs"] += len(span.jobs)
            for _, _, tasks, cpu, shuffle, spill in span.stages:
                out[f"{pre}.stages"] += 1
                out[f"{pre}.tasks"] += tasks
                out[f"{pre}.executor_cpu_s"] += cpu
                out[f"{pre}.shuffle_write_mb"] += shuffle
                out[f"{pre}.spill_mb"] += spill
        return out

    def counter_metrics(self) -> dict[str, float]:
        c = self.counters
        calls = c["plan_cache.cached_calls"]
        out = {
            "plan_cache.cached_calls": calls,
            "plan_cache.hit_ratio": c["plan_cache.hits"] / calls if calls else 0.0,
        }
        for k in ("files_written", "bytes_written_mb", "publish_attempts"):
            out[f"warehouse.persist.{k}"] = c[f"warehouse.persist.{k}"]
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([s.to_json(self._t0) for s in self.spans], fh)
