"""Tracing for the benchmark's traced runs, from outside the package.

``Tracer`` records spans (name, start, end, parent, op id) in memory around
calls into each layer's public functions.  ``Tracer.install`` swaps a timing
wrapper in for each function in ``LAYER_FUNCTIONS`` -- on its defining module
or class and on every package module that imported it by name -- and
``uninstall`` puts the originals back.  Package code is not edited.

``spark_counts`` reads jobs/stages/tasks of one job group from the status
tracker; ``catalyst_phases`` reads the analysis/optimization/planning times
Catalyst recorded for a DataFrame's query execution.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass

PACKAGE = "clickhouse_segments_tutorial_spark"

# span name -> (module, attribute path) of the public function it wraps
LAYER_FUNCTIONS = {
    "sources.load_table": ("sources.catalog", "load_table"),
    "sources.append_clustered": ("sources.writers", "append_clustered"),
    "sources.rewrite_table": ("sources.writers", "rewrite_table"),
    "sources.apply_retention": ("sources.writers", "apply_retention"),
    "sources.compact_latest_wins": ("sources.writers", "compact_latest_wins"),
    "operators.accumulate_state": ("operators.hll_state", "accumulate_state"),
    "operators.latest_value": ("operators.latest_wins", "latest_value"),
    "segmentation.process_batch": ("segmentation.micro_batch", "MicroBatchSegmenter.process_batch"),
    "segmentation.finalize": ("segmentation.micro_batch", "MicroBatchSegmenter._finalize"),
    "segmentation.compact_states": ("segmentation.micro_batch", "MicroBatchSegmenter.compact_states"),
    "segmentation.members": ("segmentation.event_time", "EventTimeSegmenter.members_with_last_event_time"),
    "streaming.run_available_now": ("streaming.hll_cascade", "HllCascadeStreamingSegmenter.run_available_now"),
    "streaming.maintain": ("streaming.hll_cascade", "HllCascadeStreamingSegmenter._maintain"),
    "streaming.members": ("streaming.hll_cascade", "HllCascadeStreamingSegmenter.members_with_last_event_time"),
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for an op's root span
    op: int


class Tracer:
    """Spans kept in memory, and the wrappers that record them."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op = -1
        self._op_stack: list[int] = []  # span stack of the thread running the op
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def _open(self, name: str) -> int:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        # a thread the package started (a writer thread, a streaming sink
        # callback) has an empty stack: its spans nest under the span open
        # in the thread that runs the op
        if stack:
            parent = stack[-1]
        else:
            parent = self._op_stack[-1] if self._op_stack else -1
        with self._lock:
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self._op))
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._local.stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield idx
        finally:
            self._close(idx)

    @contextlib.contextmanager
    def op(self, op_id: int, name: str):
        """Root span of one timed operation; spans opened inside (in any
        thread) carry its op id."""
        self._op = op_id
        with self.span(name) as idx:
            self._op_stack = self._local.stack
            try:
                yield idx
            finally:
                self._op_stack = []

    def wrap(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    # -- installing wrappers -------------------------------------------------

    def install(self) -> None:
        for name, (mod_name, attr) in LAYER_FUNCTIONS.items():
            owner = importlib.import_module(f"{PACKAGE}.{mod_name}")
            if "." in attr:
                cls_name, attr = attr.split(".")
                owner = getattr(owner, cls_name)
                self._patch(owner, attr, self.wrap(name, vars(owner)[attr]))
                continue
            orig = getattr(owner, attr)
            wrapped = self.wrap(name, orig)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith(PACKAGE):
                    for key, val in list(vars(mod).items()):
                        if val is orig:
                            self._patch(mod, key, wrapped)

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- reading spans -------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span index -> duration minus the part its child spans cover
        (children of one span may overlap when they ran on two threads)."""
        children: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            children.setdefault(s.parent, []).append(i)
        out = {}
        for i, s in enumerate(self.spans):
            covered, cur_start, cur_end = 0.0, None, None
            for lo, hi in sorted(
                (max(self.spans[c].start, s.start), min(self.spans[c].end, s.end))
                for c in children.get(i, [])
            ):
                if cur_end is None or lo > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = lo, hi
                else:
                    cur_end = max(cur_end, hi)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[i] = (s.end - s.start) - covered
        return out

    def totals(self, ops: set[int]) -> dict[str, dict[str, float]]:
        """Per span name over ``ops``: calls, busy seconds, self seconds."""
        self_t = self.self_times()
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            if s.op in ops:
                t = out.setdefault(s.name, {"calls": 0, "busy_s": 0.0, "self_s": 0.0})
                t["calls"] += 1
                t["busy_s"] += s.end - s.start
                t["self_s"] += self_t[i]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def spark_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran and tasks completed under one job group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info is not None else ():
            st = tracker.getStageInfo(s)
            if st is not None and st.numCompletedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def catalyst_phases(df) -> dict[str, float]:
    """Seconds Catalyst spent per phase on ``df``'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"{phase}_s"] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out
