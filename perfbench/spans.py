"""Spans around calls into the engine's layers, and per-layer metrics from
the Spark event log.

A span records name, layer, phase, start, end, parent, thread and run id,
and, once the event log is read, the Spark jobs it fired. Spans are kept
in memory until the run writes them out. In a traced run every
span also sets its own Spark job group, so each job in the event log maps
back to the innermost span that fired it. Phase ``construct`` covers a
call until it returns its DataFrame (jobs fired there are eager jobs);
phase ``exec`` covers the action that runs it.

With tracing off ``span`` only yields, so untraced runs pay nothing.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = (
    "tokenizer", "index", "find", "pairs", "scoring",
    "cluster", "dedup", "pipeline", "api", "server",
)
SUFFIXES = {
    "construct_s": "s",
    "eager_jobs": "count",
    "exec_s": "s",
    "jobs": "count",
    "tasks": "count",
    "task_cpu_s": "s",
    "wait_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "rows_out": "rows",
}
EXTRAS = {
    "find.results_per_needle": "rows",
    "pairs.keep_ratio": "ratio",
    "cluster.driver_path": "bool",
    "pipeline.overhead_s": "s",
    "pipeline.salting_active": "bool",
    "api.flush_s": "s",
    "server.save_s": "s",
    "tracing_overhead_s": "s",
}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = {f"{layer}.{sfx}": unit for layer in LAYERS for sfx, unit in SUFFIXES.items()}
    out.update(EXTRAS)
    return out


class Span:
    __slots__ = (
        "id", "name", "layer", "phase", "parent", "thread", "start", "end", "rows", "jobs"
    )

    def as_dict(self, run_id: str) -> dict:
        d = {k: getattr(self, k) for k in self.__slots__}
        d["run_id"] = run_id
        return d


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self.notes: dict = {}   # data-dependent choices and other facts of the run
        self._sc = spark.sparkContext
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str, name: str, phase: str = "exec"):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        s = Span()
        with self._lock:
            s.id = len(self.spans)
            self.spans.append(s)
        s.name, s.layer, s.phase, s.rows, s.jobs = name, layer, phase, 0, 0
        s.parent = stack[-1].id if stack else None
        s.thread = threading.current_thread().name
        stack.append(s)
        self._sc.setLocalProperty("spark.jobGroup.id", f"pb-{s.id}")
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self._sc.setLocalProperty(
                "spark.jobGroup.id", f"pb-{stack[-1].id}" if stack else None
            )

    def patch(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` to ``new`` until :meth:`restore`."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def restore(self) -> None:
        for owner, attr, old in reversed(self._patched):
            setattr(owner, attr, old)
        self._patched.clear()

    def wrap(self, owner, attr: str, layer: str, phase: str = "construct") -> None:
        """Patch ``owner.attr`` (a module function or a class method) with a
        version that runs inside a span."""
        fn = getattr(owner, attr)
        name = f"{getattr(owner, '__name__', owner)}.{attr}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name, phase):
                return fn(*args, **kwargs)

        self.patch(owner, attr, traced)

    def dump(self, path: str, layer_metrics: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "run_id": self.run_id,
                    "notes": self.notes,
                    "layers": layer_metrics,
                    "spans": [s.as_dict(self.run_id) for s in self.spans],
                },
                fh,
                indent=1,
            )


def _self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its child spans cover."""
    own = {s.id: s.end - s.start for s in spans}
    for s in spans:
        if s.parent is not None:
            own[s.parent] -= s.end - s.start
    return own


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, hi = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > hi:
            total += b - max(a, hi)
            hi = b
    return total


def read_event_log(log_dir: str) -> list[dict]:
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(paths)}")
    events = []
    with open(paths[0]) as fh:
        for line in fh:
            events.append(json.loads(line))
    return events


def layer_metrics(tracer: Tracer, events: list[dict]) -> dict[str, float]:
    """Per-layer sums over spans and the jobs, stages and tasks they fired."""
    spans = {s.id: s for s in tracer.spans}
    own = _self_times(tracer.spans)
    out = {name: 0.0 for name in metric_units()}
    for s in tracer.spans:
        key = "construct_s" if s.phase == "construct" else "exec_s"
        out[f"{s.layer}.{key}"] += own[s.id]
        out[f"{s.layer}.rows_out"] += s.rows

    job_span, job_bounds, stage_job, stage_bounds = {}, {}, {}, {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if group.startswith("pb-"):
                job_span[ev["Job ID"]] = spans[int(group[3:])]
                job_bounds[ev["Job ID"]] = [ev["Submission Time"], None]
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_bounds:
            job_bounds[ev["Job ID"]][1] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info["Stage ID"] in stage_job and "Submission Time" in info:
                stage_bounds[info["Stage ID"]] = (
                    info["Submission Time"], info["Completion Time"]
                )

    stage_walls = defaultdict(list)
    for sid, bounds in stage_bounds.items():
        stage_walls[stage_job[sid]].append(bounds)
    for job, span in job_span.items():
        span.jobs += 1   # for a construct span: the eager jobs of that call
        out[f"{span.layer}.jobs"] += 1
        if span.phase == "construct":
            out[f"{span.layer}.eager_jobs"] += 1
        start, end = job_bounds[job]
        if end is not None:
            gap = (end - start) - _covered(stage_walls[job])
            out[f"{span.layer}.wait_s"] += max(gap, 0) / 1000.0

    for ev in events:
        if ev["Event"] != "SparkListenerTaskEnd" or ev["Stage ID"] not in stage_job:
            continue
        layer = job_span[stage_job[ev["Stage ID"]]].layer
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        run_ms = m.get("Executor Run Time", 0)
        out[f"{layer}.tasks"] += 1
        out[f"{layer}.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out[f"{layer}.wait_s"] += max(info["Finish Time"] - info["Launch Time"] - run_ms, 0) / 1000.0
        out[f"{layer}.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        out[f"{layer}.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return out
