"""Spans around the program's public calls, attributed to Spark from outside.

Each timed call into the program is one span. In a traced run, before the
call the tracer sets the Spark job group (and job description) to a
per-invocation group id, so every job and SQL execution the call starts is
tagged with it. After the run it reads:

- ``statusTracker().getJobIdsForGroup`` plus the app status store for each
  job's submit/complete times, to split the span's wall into time inside
  Spark jobs and driver time around them;
- the SQL status store (``sharedState().statusStore()``) for each execution
  whose description is the group id, and its formatted metric strings
  (shuffle bytes written, spill size, Python worker times, pipeline
  duration, scan rows and files).

Spans are kept in memory and summarised when the run ends. With tracing
off, ``span`` only measures wall time: no job groups, no status-store reads.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# span fields reported for every span name, in this order
FIELDS = ("wall_s", "driver_s", "jobs", "python_ms", "shuffle_bytes")

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A Spark SQL metric as the status store formats it, in base units:
    bytes for sizes, milliseconds for times, a plain number for counts.

    Accepts the one-task form (``"288.0 B"``, ``"8 ms"``, ``"100,000"``)
    and the many-task form, whose first line is a
    ``total (min, med, max ...)`` or ``avg (...)`` header and whose total
    leads the second line."""
    lines = [s for s in text.replace("<br>", "\n").split("\n") if s.strip()]
    if not lines:
        raise ValueError(f"empty metric {text!r}")
    line = lines[1] if len(lines) > 1 and lines[0].startswith(("total", "avg")) else lines[0]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparsable metric {text!r}")
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME_MS:
        return value * _TIME_MS[unit]
    if unit:
        raise ValueError(f"unknown unit {unit!r} in {text!r}")
    return value


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
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


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


@dataclass
class Span:
    name: str
    group: str
    start: float
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    sql: dict[str, float] = field(default_factory=lambda: defaultdict(float))

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def descendants(self):
        for c in self.children:
            yield c
            yield from c.descendants()

    def self_s(self) -> float:
        """Wall minus the part of it that child spans cover."""
        kids = clip([(c.start, c.end) for c in self.children], self.start, self.end)
        return self.wall_s - union_length(kids)

    def driver_s(self) -> float:
        """Wall minus the union of the Spark job intervals of this span and
        its descendants: time the driver spent outside any job."""
        jobs = list(self.job_intervals)
        for d in self.descendants():
            jobs += d.job_intervals
        return self.wall_s - union_length(clip(jobs, self.start, self.end))

    def total(self, key: str) -> float:
        return self.sql.get(key, 0.0) + sum(d.sql.get(key, 0.0) for d in self.descendants())

    def n_jobs(self) -> int:
        return len(self.job_intervals) + sum(len(d.job_intervals) for d in self.descendants())


# SQL metric names (as Spark labels them) folded into each span
_SQL_KEYS = {
    "time to start Python workers": "python_ms",
    "time to initialize Python workers": "python_ms",
    "time to run Python workers": "python_ms",
    "shuffle bytes written": "shuffle_bytes",
    "spill size": "spill_bytes",
    "duration": "pipeline_ms",
    "number of files read": "files_read",
}
_SCAN_ROWS = "scan_rows"
_DOT_LABEL = re.compile(r'label="((?:[^"\\]|\\.)*)"')
_MANY = re.compile(r"^(.*?):? (?:total|avg) \(min, med, max \(stageId: taskId\)\)$")


def dot_metrics(dot: str) -> list[tuple[str, str, str]]:
    """(node name, metric name, formatted value) for every metric in a
    plan graph's DOT text (``SparkPlanGraph.makeDotFile``). Node labels
    separate lines with ``<br>``, cluster labels (whole-stage codegen)
    with an escaped newline. A many-task metric takes two lines: its name
    with the ``total (min, med, max ...)`` header, then the total."""
    out = []
    for label in _DOT_LABEL.findall(dot):
        parts = [p.strip() for p in label.replace("\\n", "<br>").split("<br>")]
        parts = [p for p in parts if p]
        if not parts:
            continue
        node = re.sub(r"</?b>", "", parts[0])
        i = 1
        while i < len(parts):
            many = _MANY.match(parts[i])
            if many and i + 1 < len(parts):
                out.append((node, many.group(1), parts[i + 1]))
                i += 2
                continue
            name, sep, value = parts[i].partition(": ")
            if sep:
                out.append((node, name, value))
            i += 1
    return out


class Tracer:
    """Collects spans. ``spark`` is None for an untraced run: spans then
    record wall time only."""

    def __init__(self, spark=None):
        self.spark = spark
        self.roots: list[Span] = []
        self._stack: list[Span] = []
        self._seq = 0
        self.harvest_s = 0.0

    @property
    def traced(self) -> bool:
        return self.spark is not None

    def _set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", group)
        sc.setLocalProperty("spark.job.description", group)

    @contextmanager
    def span(self, name: str):
        self._seq += 1
        s = Span(name, f"{name}#{self._seq}", time.time())
        parent = self._stack[-1] if self._stack else None
        (parent.children if parent else self.roots).append(s)
        self._stack.append(s)
        if self.traced:
            self._set_group(s.group)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.traced:
                self._set_group(parent.group if parent else None)

    def reset(self) -> None:
        """Forget the spans recorded so far (set-up work before timing)."""
        if self._stack:
            raise RuntimeError("reset inside an open span")
        self.roots = []

    def wrap(self, module, attr: str, name_of) -> bool:
        """Replace ``module.attr`` with a wrapper that runs each call in a
        span named ``name_of(*args, **kwargs)``. Returns False, changing
        nothing, when the module no longer has that name: the span is then
        reported as absent."""
        fn = getattr(module, attr, None)
        if fn is None:
            return False

        def wrapped(*args, **kwargs):
            with self.span(name_of(*args, **kwargs)):
                return fn(*args, **kwargs)

        setattr(module, attr, wrapped)
        return True

    def all_spans(self):
        for r in self.roots:
            yield r
            yield from r.descendants()

    def harvest(self) -> None:
        """Attach Spark jobs and SQL metrics to every span, reading the
        status stores once the listener bus has drained."""
        if not self.traced:
            return
        t0 = time.time()
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        by_group = {s.group: s for s in self.all_spans()}
        for s in by_group.values():
            for j in tracker.getJobIdsForGroup(s.group):
                job = store.job(j)
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    s.job_intervals.append(
                        (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                    )
        sql = self.spark._jsparkSession.sharedState().statusStore()
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        for ex in conv.asJava(sql.executionsList()):
            s = by_group.get(ex.description())
            if s is None:
                continue
            eid = ex.executionId()
            dot = sql.planGraph(eid).makeDotFile(sql.executionMetrics(eid))
            for node, name, value in dot_metrics(dot):
                key = _SQL_KEYS.get(name)
                if name == "number of output rows" and node.startswith("Scan"):
                    key = _SCAN_ROWS
                if key is None or (key == "pipeline_ms" and not node.startswith("WholeStageCodegen")):
                    continue
                s.sql[key] += parse_metric(value)
        self.harvest_s += time.time() - t0

    def summary(self) -> dict[str, dict]:
        """Per span name, summed over its invocations: the FIELDS plus
        self time, scan rows, files read, spill and pipeline time."""
        out: dict[str, dict] = {}
        for s in self.all_spans():
            d = out.setdefault(s.name, defaultdict(float))
            d["calls"] += 1
            d["wall_s"] += s.wall_s
            d["self_s"] += s.self_s()
            d["driver_s"] += s.driver_s()
            d["jobs"] += s.n_jobs()
            for key in ("python_ms", "shuffle_bytes", "spill_bytes", "pipeline_ms",
                        "files_read", _SCAN_ROWS):
                d[key] += s.total(key)
        return out
