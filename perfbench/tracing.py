"""Traced-run tooling: spans, a streaming-query listener and a Spark
event-log parser.

Nothing here instruments the package itself. Spans are recorded around
calls the benchmark makes into the package's public functions (and
around the package's own sink functions, by swapping the module
attribute for a wrapper while a traced phase runs). Spark jobs are
attributed to benchmark operations by job group: the benchmark sets
the group to the operation's id before a batch pass or a lookup, and
every job a streaming drain runs carries the query's ``runId`` as its
group, which the listener maps back to the drain.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    op: str | None = None  # the benchmark operation the span belongs to


class Tracer:
    """In-memory span recorder; dumped to a JSON file when the run ends.

    A span's parent is the innermost open span on the same thread, or
    the current operation's root span for calls made on other threads
    (``foreachBatch`` callbacks run on a py4j callback thread)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op_root: Span | None = None

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self._op_root
        with self._lock:
            s = Span(len(self.spans), name, parent.sid if parent else None,
                     time.time(), op=op or (parent.op if parent else None))
            self.spans.append(s)
        stack.append(s)
        if op is not None:
            self._op_root = s
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if op is not None:
                self._op_root = None

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` with a span-recording wrapper; returns
        a function that restores the original."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapper)
        return lambda: setattr(module, attr, orig)

    def dump(self, path: str, report: dict) -> None:
        """Write the spans and the per-layer report derived from them."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": [s.__dict__ for s in self.spans], "report": report}, f)


def make_listener():
    """A StreamingQueryListener that keeps every query's start and
    progress events (``durationMs``, ``numInputRows``) by ``runId``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.started: list[str] = []
            self.progress: dict[str, list[dict]] = defaultdict(list)
            self.terminated: set[str] = set()

        def onQueryStarted(self, event) -> None:
            self.started.append(str(event.runId))

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.progress[str(p.runId)].append(
                {"durationMs": dict(p.durationMs), "numInputRows": p.numInputRows}
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.terminated.add(str(event.runId))

        def wait_terminated(self, n: int, timeout: float = 10.0) -> None:
            """Listener events arrive asynchronously; wait until the
            first ``n`` queries have reported termination."""
            deadline = time.time() + timeout
            while time.time() < deadline:
                if len(self.started) >= n and all(
                    r in self.terminated for r in self.started[:n]
                ):
                    return
                time.sleep(0.05)

    return Listener()


@dataclass
class Job:
    jid: int
    group: str | None
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    execution: int | None = None  # the SQL execution that ran the job


@dataclass
class StageTotals:
    tasks: int = 0
    task_ms: list[float] = field(default_factory=list)
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0


def _written_files_accums(plan: dict, out: set[int]) -> None:
    for m in plan.get("metrics") or []:
        if m.get("name") == "number of written files":
            out.add(m["accumulatorId"])
    for child in plan.get("children") or []:
        _written_files_accums(child, out)


def read_event_log(log_dir: str):
    """Parse the (uncompressed, non-rolling) event log files in
    ``log_dir`` into jobs, per-stage task totals (only stages that ran
    a task) and files written per SQL execution."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = defaultdict(StageTotals)
    files: dict[int, int] = defaultdict(int)
    file_accums: set[int] = set()
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    execution = props.get("spark.sql.execution.id")
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"],
                        props.get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1000.0,
                        stages=list(ev["Stage IDs"]),
                        execution=None if execution is None else int(execution),
                    )
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    st = stages[ev["Stage ID"]]
                    st.tasks += 1
                    st.task_ms.append(info["Finish Time"] - info["Launch Time"])
                    st.cpu_ns += m.get("Executor CPU Time", 0)
                    st.gc_ms += m.get("JVM GC Time", 0)
                    st.spill += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    sr = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                    im = m.get("Input Metrics") or {}
                    st.input_bytes += im.get("Bytes Read", 0)
                    st.input_records += im.get("Records Read", 0)
                    om = m.get("Output Metrics") or {}
                    st.output_bytes += om.get("Bytes Written", 0)
                elif kind.endswith(
                    ("SparkListenerSQLExecutionStart",
                     "SparkListenerSQLAdaptiveExecutionUpdate")
                ):
                    # adaptive re-planning gives the write node new
                    # accumulators, so every plan version is scanned
                    _written_files_accums(ev.get("sparkPlanInfo") or {}, file_accums)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc, value in ev["accumUpdates"]:
                        if acc in file_accums:
                            files[ev["executionId"]] += value
    return jobs, dict(stages), dict(files)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


@dataclass
class OpCost:
    """Spark work attributed to one benchmark operation."""

    jobs: list[Job]
    stages: list[StageTotals]
    files_written: int = 0

    @property
    def n_stages(self) -> int:
        return len(self.stages)

    @property
    def n_tasks(self) -> int:
        return sum(s.tasks for s in self.stages)

    def total(self, attr: str) -> float:
        return sum(getattr(s, attr) for s in self.stages)

    def task_skew(self) -> float:
        """max / median task time in the stage with the most tasks."""
        if not self.stages:
            return 0.0
        widest = max(self.stages, key=lambda s: s.tasks)
        med = statistics.median(widest.task_ms)
        return max(widest.task_ms) / med if med > 0 else 1.0

    def self_time(self, start: float, end: float) -> float:
        """Span time outside any Spark job of the operation."""
        return (end - start) - covered([(j.submit, j.end) for j in self.jobs], start, end)


def cost_by_group(
    jobs: dict[int, Job], stages: dict[int, StageTotals], files: dict[int, int]
) -> dict[str, OpCost]:
    by_group: dict[str, list[Job]] = defaultdict(list)
    for j in sorted(jobs.values(), key=lambda j: j.jid):
        if j.group:
            by_group[j.group].append(j)
    out: dict[str, OpCost] = {}
    for g, js in by_group.items():
        sids = sorted({s for j in js for s in j.stages if s in stages})
        executions = {j.execution for j in js} - {None}
        out[g] = OpCost(
            js, [stages[s] for s in sids], sum(files.get(e, 0) for e in executions)
        )
    return out
