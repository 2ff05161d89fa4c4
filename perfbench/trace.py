"""In-memory spans around the benchmark's calls into engine layers.

A span is (name, start, end, parent, counters). While a span is open its
thread's Spark jobs carry a job group unique to the span, so after the
run every job, stage and SQL execution can be attributed to the span that
caused it. Counters are resolved once, after the measured phase, from
three sources that all work with ``spark.ui.enabled=false``:

- ``statusStore()`` job and stage data (run time, CPU, bytes, spill, the
  stage's run interval and how long it waited for its first task);
- the SQL status store's plan metrics of every execution the span ran
  (Python worker time, files written, rows read by scans);
- the rows the benchmark collected (``hits``), set by the caller.

With tracing off ``span`` only yields a record, so the measured code path
is the one a user runs.
"""

from __future__ import annotations

import itertools
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# SQL plan nodes whose "time to run Python workers" is the text-processing
# pandas UDF (extract/tokenize) rather than a grouped or map-style UDF
UDF_NODES = ("ArrowEvalPython", "BatchEvalPython")
GROUP_NODES = ("FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas")

_UNITS = {
    "ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,.]*)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: '12', '3.0 s', '2.3 KiB', or the
    'total (min, med, max ...)\\n<total> (...)' form. Times → ms."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    group: str
    start_ms: float
    end_ms: float = 0.0
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)

    @property
    def wall_ms(self) -> float:
        return self.end_ms - self.start_ms


class Tracer:
    """Records spans when ``enabled``; a no-op recorder otherwise."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.overhead_ms = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        """Open a span; the yielded dict takes attributes set by the caller
        (``hits``: rows returned, ``index_bytes``: bytes the call may scan)."""
        rec: dict = dict(attrs)
        if not self.enabled:
            yield rec
            return
        t = time.perf_counter()
        sc = self.spark.sparkContext
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        s = Span(sid, name, stack[-1].id if stack else None, f"perfbench-{sid}",
                 time.time() * 1000.0, attrs=rec)
        sc.setJobGroup(s.group, name)
        stack.append(s)
        self._charge(t)
        try:
            yield rec
        finally:
            t = time.perf_counter()
            s.end_ms = time.time() * 1000.0
            stack.pop()
            if stack:
                sc.setJobGroup(stack[-1].group, stack[-1].name)
            else:
                sc._jsc.clearJobGroup()
            with self._lock:
                self.spans.append(s)
            self._charge(t)

    def _charge(self, since: float) -> None:
        """Count the tracer's own time (clients run on several threads)."""
        with self._lock:
            self.overhead_ms += (time.perf_counter() - since) * 1000.0

    def add(self, name: str, start_ms: float, end_ms: float) -> None:
        """Record a span timed by the caller (a call that runs no Spark job
        under a group this tracer set, such as starting the session)."""
        if self.enabled:
            self.spans.append(Span(next(self._ids), name, None, "", start_ms, end_ms))

    # -- resolution (after the measured phase) ------------------------------
    def resolve(self) -> None:
        """Attach Spark counters to every recorded span."""
        if not self.enabled or not self.spans:
            return
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        by_group = {s.group: s for s in self.spans}
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        job_span: dict[int, Span] = {}
        stages: dict[int, set] = {}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            g = job.jobGroup()
            span = by_group.get(g.get()) if g.isDefined() else None
            sub = job.submissionTime()
            if span is None and sub.isDefined():
                # jobs a call runs on a thread of its own (a streaming
                # query's micro-batches carry the query's job group) go
                # to the innermost span open when they were submitted
                span = self._open_at(sub.get().getTime())
            if span is None:
                continue
            job_span[job.jobId()] = span
            c = span.counters
            c["jobs"] = c.get("jobs", 0) + 1
            ids = job.stageIds()
            for k in range(ids.size()):
                stages.setdefault(span.id, set()).add(ids.apply(k))
        for s in self.spans:
            self._stage_counters(store, s, stages.get(s.id, ()))
        self._plan_counters(job_span)
        for s in self.spans:
            c = s.counters
            if s.attrs.get("hits") is not None:
                c["hits"] = s.attrs["hits"]
                c["rows_scanned_per_hit"] = c.get("rows_scanned", 0) / max(s.attrs["hits"], 1)
            if s.attrs.get("index_bytes"):
                c["scan_bytes_frac"] = c["input_bytes"] / s.attrs["index_bytes"]

    def _open_at(self, t_ms: float) -> Span | None:
        open_ = [s for s in self.spans if s.start_ms <= t_ms <= s.end_ms]
        return max(open_, key=lambda s: s.start_ms) if open_ else None

    def _stage_counters(self, store, s: Span, stage_ids) -> None:
        c = s.counters
        for key in ("jobs", "executor_cpu_ms", "executor_run_ms", "queue_ms",
                    "input_bytes", "input_records", "shuffle_write_bytes",
                    "spill_bytes", "output_bytes"):
            c.setdefault(key, 0)
        intervals = []
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # stage pruned from the store or never attempted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            c["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            c["executor_run_ms"] += st.executorRunTime()
            c["input_bytes"] += st.inputBytes()
            c["input_records"] += st.inputRecords()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            c["output_bytes"] += st.outputBytes()
            sub = st.submissionTime()
            first = st.firstTaskLaunchedTime()
            done = st.completionTime()
            if sub.isDefined() and first.isDefined():
                c["queue_ms"] += max(0, first.get().getTime() - sub.get().getTime())
            if first.isDefined() and done.isDefined():
                intervals.append((first.get().getTime(), done.get().getTime()))
        c["wall_ms"] = s.wall_ms
        c["driver_ms"] = max(0.0, s.wall_ms - _covered(intervals, s.start_ms, s.end_ms))

    def _plan_counters(self, job_span: dict[int, Span]) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            keys = e.jobs().keys().iterator()
            span = None
            while keys.hasNext() and span is None:
                span = job_span.get(int(keys.next()))
            if span is None:
                continue
            values = sql.executionMetrics(e.executionId())
            nodes = sql.planGraph(e.executionId()).allNodes()
            c = span.counters
            for n in range(nodes.size()):
                node = nodes.apply(n)
                name = node.name()
                ms = node.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    v = values.get(metric.accumulatorId())
                    if not v.isDefined():
                        continue
                    mname = metric.name()
                    if mname == "time to run Python workers":
                        key = ("udf_python_ms" if name.startswith(UDF_NODES)
                               else "group_python_ms" if name.startswith(GROUP_NODES)
                               else "other_python_ms")
                        c[key] = c.get(key, 0.0) + parse_metric(v.get())
                    elif mname == "number of output rows" and _is_scan(name):
                        c["rows_scanned"] = c.get("rows_scanned", 0) + parse_metric(v.get())
                    elif mname == "number of written files":
                        c["files_written"] = c.get("files_written", 0) + parse_metric(v.get())


def _is_scan(node_name: str) -> bool:
    """Leaf nodes that read stored or cached rows (parquet files, cached
    relations, local tables)."""
    return node_name.startswith("Scan") or node_name.endswith("TableScan")


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
