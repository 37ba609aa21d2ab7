"""In-memory spans, latency statistics and Spark's own counters.

Spans are recorded by the benchmark around its calls into the package;
the package itself is not instrumented. Counters come from Spark's
bookkeeping, read from outside the program: the SQL status store (per
plan-node metrics of every execution), the stage tracker and the JVM
garbage-collector MXBeans.
"""

from __future__ import annotations

import json
import math
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# --- latency statistics ----------------------------------------------------


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail_percentile(samples: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples beyond it,
    as (percentile, nearest-rank value); None below eleven samples.

    With n samples the k-th smallest has n - k samples above it, so
    k = n - 10; the percentile is the largest p whose nearest rank
    ceil(p/100 * n) is still k.
    """
    n = len(samples)
    k = n - 10
    if k < 1:
        return None
    p = 100 * k // n
    s = sorted(samples)
    return p, s[math.ceil(p * n / 100) - 1]


# --- spans -----------------------------------------------------------------


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: int


class Tracer:
    """Records spans in memory; ``enabled=False`` records nothing, so the
    untraced path pays one attribute test per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.run_id = 0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(sid, name, time.perf_counter(), math.nan, parent, self.run_id)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec.end = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the
    part of its interval that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - _covered(children.get(s.span_id, []))
        out[s.name] = out.get(s.name, 0.0) + own
    return out


# --- Spark status-store metric strings --------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Parse one SQL-metric string from the status store into a number:
    sizes to bytes, timings to seconds, counts as-is. Aggregated
    metrics read 'total (min, med, max ...)\\n<total> (<min>, ...)';
    the total is taken."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparseable metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return num
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    raise ValueError(f"unknown metric unit {unit!r} in {text!r}")


# --- Spark counters ----------------------------------------------------------

# (plan-node predicate, metric name, counter name)
_NODE_METRICS = [
    (lambda n: n.startswith("Scan "), "size of files read", "readers.bytes_read"),
    (lambda n: n.startswith("Scan "), "number of files read", "readers.files_read"),
    (lambda n: n.startswith("Scan "), "number of output rows", "readers.rows_read"),
    (lambda n: n.startswith("Scan "), "scan time", "readers.scan_s"),
    (lambda n: "InsertIntoHadoopFsRelationCommand" in n, "number of written files", "sinks.files_written"),
    (lambda n: "InsertIntoHadoopFsRelationCommand" in n, "written output", "sinks.bytes_written"),
    (lambda n: "InsertIntoHadoopFsRelationCommand" in n, "number of output rows", "sinks.rows_written"),
    (lambda n: "InsertIntoHadoopFsRelationCommand" in n, "task commit time", "sinks.commit_s"),
    (lambda n: "InsertIntoHadoopFsRelationCommand" in n, "job commit time", "sinks.commit_s"),
    (lambda n: n == "Exchange", "shuffle bytes written", "spark.shuffle_bytes"),
    (lambda n: True, "spill size", "spark.spill_bytes"),
]

_DOT_NODE = re.compile(r'label="<b>([^<]*)</b><br><br>(.*?)" tooltip=')


def plan_metrics(dot: str) -> list[tuple[str, str, str]]:
    """(node name, metric name, value text) for every metric in the DOT
    rendering of an execution's plan graph (SparkPlanGraph.makeDotFile).
    An aggregated metric renders as 'name: total (min, med, max ...)'
    with its values on the following line."""
    out = []
    for node, body in _DOT_NODE.findall(dot):
        items = body.split("<br>")
        j = 0
        while j < len(items):
            name, _, value = items[j].partition(": ")
            if value.startswith("total (") and j + 1 < len(items):
                value = value + "\n" + items[j + 1]
                j += 1
            if value:
                out.append((node.strip(), name, value))
            j += 1
    return out


class SparkCounters:
    """Counts from the SQL status store, stage tracker and GC beans.

    The status store keeps ``spark.sql.ui.retainedExecutions`` entries;
    the session raises that limit, and :meth:`collect` fails loudly if an
    execution it needs was evicted anyway.
    """

    def __init__(self, spark) -> None:
        self.spark = spark
        jvm = spark._jvm
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._gc_beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    def gc_seconds(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def next_execution_id(self) -> int:
        ex = self._store.executionsList()
        return ex.apply(ex.size() - 1).executionId() + 1 if ex.size() else 0

    def collect(self, first: int, last: int, tasks: bool = True) -> dict[str, float]:
        """Sum plan-node metrics, jobs and (optionally) tasks over the
        executions with ids in [first, last)."""
        out: dict[str, float] = {}
        if last <= first:
            return out
        if self._store.execution(first).isEmpty():
            raise RuntimeError(f"status store evicted execution {first}; "
                               "raise spark.sql.ui.retainedExecutions")
        tracker = self.spark.sparkContext.statusTracker()
        for eid in range(first, last):
            found = self._store.execution(eid)
            if found.isEmpty():
                continue
            e = found.get()
            out["spark.jobs"] = out.get("spark.jobs", 0) + e.jobs().size()
            if tasks:
                for sid in self._conv.asJava(e.stages()):
                    info = tracker.getStageInfo(sid)
                    if info is None:
                        raise RuntimeError(f"stage {sid} evicted; raise spark.ui.retainedStages")
                    out["spark.tasks"] = out.get("spark.tasks", 0) + info.numTasks
            dot = self._store.planGraph(eid).makeDotFile(self._store.executionMetrics(eid))
            for node, metric, value in plan_metrics(dot):
                for pred, name, counter in _NODE_METRICS:
                    if metric == name and pred(node):
                        out[counter] = out.get(counter, 0.0) + parse_metric(value)
        return out
