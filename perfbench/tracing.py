"""Spans and counts recorded around the public calls a workload makes.

A ``Tracer`` is created per run. With tracing off every method is a
no-op, so the untraced runs that give the end-to-end metrics pay
nothing. With tracing on it keeps, in memory:

- spans ``(id, name, start, end, parent, trace_id)``; one trace id per
  workload operation, so the spans of one op can be grouped;
- named counters (py4j round trips, Spark jobs and tasks, layer counts).

Spark job and task counts come from ``statusTracker`` job groups: each
top-level span runs its calls under its own job group and reads the
group's jobs back when it closes. py4j round trips come from wrapping
the gateway client's ``send_command`` on this process's gateway.
``dump`` writes everything to a JSON file when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import Counter, defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._trace_id = 0
        self._sc = None
        self._py4j_calls = 0
        self._lock = threading.Lock()
        # what earlier sections recorded (see ``reset``)
        self._done_spans: list[dict] = []
        self._done_counts: Counter = Counter()

    # -- wiring -------------------------------------------------------------

    def attach(self, spark) -> None:
        """Hook the Spark context: job groups and the py4j call counter."""
        if not self.enabled:
            return
        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client
        send = client.send_command

        def counted(*a, **k):
            with self._lock:
                self._py4j_calls += 1
            return send(*a, **k)

        client.send_command = counted

    def new_trace(self) -> None:
        """Start a new trace id (one per workload operation)."""
        self._trace_id += 1

    # -- spans and counts ---------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the enclosed public call. A top-level span also counts the
        Spark jobs and tasks it ran (``<name>.jobs`` / ``<name>.tasks``)
        and the py4j round trips (``<name>.py4j_calls``)."""
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        # job groups are thread-local in Spark; spans opened on other
        # threads (a streaming callback) would overwrite the group the
        # stream itself set, so only main-thread spans get one
        group = (
            f"perfbench-{sid}"
            if parent is None
            and self._sc is not None
            and threading.current_thread() is threading.main_thread()
            else None
        )
        if group:
            self._sc.setJobGroup(group, name)
        calls0 = self._py4j_calls
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.counts[f"{name}.py4j_calls"] += self._py4j_calls - calls0
            self.spans.append(
                {
                    "id": sid,
                    "name": name,
                    "start": t0,
                    "end": t1,
                    "parent": parent,
                    "trace_id": self._trace_id,
                }
            )
            if group:
                jobs, tasks = self.group_jobs(group)
                self.counts[f"{name}.jobs"] += jobs
                self.counts[f"{name}.tasks"] += tasks
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def group_jobs(self, group: str) -> tuple[int, int]:
        """(jobs, tasks) that ran under a Spark job group."""
        st = self._sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = st.getStageInfo(s)
                tasks += stage.numTasks if stage else 0
        return len(jobs), tasks

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def reset(self) -> None:
        """Start a new section: the reductions below see only what is
        recorded from now on, while ``dump`` still writes everything."""
        self._done_spans += self.spans
        self._done_counts += self.counts
        self.spans, self.counts = [], Counter()

    # -- reductions ---------------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def dump(self, path: str) -> None:
        """Write every span and count of the run, with each span name's
        total self time: a span's duration minus the part of it its
        child spans cover (children of one span never overlap)."""
        spans = self._done_spans + self.spans
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        self_time: dict[str, float] = defaultdict(float)
        for s in spans:
            self_time[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": spans,
                    "counts": dict(self._done_counts + self.counts),
                    "self_time_s": self_time,
                },
                f,
            )


def wrap_function(tracer: Tracer, module, attr: str, span_name: str, on_call=None):
    """Replace ``module.attr`` with a version that runs inside a span, so
    calls the library makes through its module global are traced too.
    Returns an undo callable."""
    orig = getattr(module, attr)

    def traced(*a, **k):
        with tracer.span(span_name):
            if on_call is not None:
                on_call()
            return orig(*a, **k)

    setattr(module, attr, traced)
    return lambda: setattr(module, attr, orig)


def percentile_tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. With too few samples for that percentile to lie
    above the median, the maximum (percentile 100)."""
    n = len(samples)
    s = sorted(samples)
    idx = n - 11  # ten samples lie above s[idx]
    if idx < n // 2:
        return s[-1], 100.0
    return s[idx], 100.0 * (idx + 1) / n
