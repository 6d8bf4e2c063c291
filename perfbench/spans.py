"""Span recorder and Spark status-store reader for traced runs.

A span wraps one call into a layer's public function: name, layer,
start, end, parent and the trace id of the job it belongs to.  Each
span runs its Spark jobs under a job group of its own, so the jobs a
span ran are read back from the status store (``statusTracker`` and
the JVM ``statusStore()`` / ``sharedState().statusStore()``, which
are kept with ``spark.ui.enabled=false``).  Spans and counts stay in
memory and are written to one file at exit.

With tracing off, ``span`` is a no-op and ``materialize`` returns its
argument unchanged, so untraced runs never force layer boundaries and
never read the status store.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import re
import statistics
import time
from dataclasses import dataclass

# Python-runner SQL metrics on MapInPandas / FlatMapCoGroupsInPandas nodes
PY_METRICS = {
    "time to start Python workers": "py_boot_s",
    "time to initialize Python workers": "py_boot_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
}
SPARK_COUNTS = (
    "exec_run_s", "shuffle_write_bytes", "spill_bytes", "tasks",
    "py_boot_s", "py_run_s", "py_bytes_sent", "py_bytes_returned",
)
_UNIT = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_METRIC_RE = re.compile(r"^\s*([0-9][0-9.,]*)\s*([A-Za-z]+)?")


@dataclass
class Span:
    id: int
    parent: int | None
    trace: int
    layer: str
    name: str
    start: float
    end: float = 0.0
    group: str = ""


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric: '17 ms', '539.0 B', '10,000'
    or 'total (min, med, max ...)\\n5.2 s (...)'."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _METRIC_RE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2) or "", 1.0)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """Records spans when enabled; a no-op otherwise."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._stack: list[Span] = []
        self._trace = -1
        self.calls: dict[str, tuple] = {}

    @contextlib.contextmanager
    def job(self, trace: int, traced: bool):
        """Root span of one job; ``traced=False`` runs it untraced even
        in a traced run (the overhead baseline)."""
        was = self.enabled
        self.enabled = was and traced
        self._trace = trace
        try:
            with self.span("job", "job"):
                yield
        finally:
            self.enabled = was

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        s = Span(sid, parent.id if parent else None, self._trace, layer, name,
                 time.perf_counter(), group=f"perfbench-{sid}")
        self._stack.append(s)
        sc.setJobGroup(s.group, f"{layer}.{name}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if parent is not None:
                sc.setJobGroup(parent.group, f"{parent.layer}.{parent.name}")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def materialize(self, df):
        """Force a layer's output at its boundary (traced runs only)."""
        if not self.enabled:
            return df
        df = df.cache()
        df.count()
        return df

    def wrap(self, module, attr: str, layer: str, name: str) -> None:
        """Replace ``module.attr`` by a span around it that materializes
        its output (a DataFrame or a dict of them) at the boundary and
        keeps the call's arguments and output in ``calls[name]``.  A
        pass-through while tracing is off, so a caller that resolves the
        name at call time runs the same code traced and untraced."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(layer, name):
                out = fn(*args, **kwargs)
                if isinstance(out, dict):
                    out = {k: self.materialize(v) for k, v in out.items()}
                else:
                    out = self.materialize(out)
            self.calls[name] = (args, out)
            return out

        setattr(module, attr, traced)


class StatusReader:
    """Per-job-group Spark counts from the in-process status stores."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def settle(self, groups: list[str], timeout: float = 10.0) -> None:
        """Wait until the listener bus has recorded every job as ended."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if all(
                (ji := self.tracker.getJobInfo(j)) is not None
                and ji.status in ("SUCCEEDED", "FAILED")
                for g in groups for j in self.tracker.getJobIdsForGroup(g)
            ):
                return
            time.sleep(0.1)

    def _py_metrics(self) -> dict[int, dict]:
        """Python-runner metric totals per job id (one SQL execution
        can span several jobs; its totals go to its first job)."""
        out: dict[int, dict] = {}
        it = self.sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            jobs = sorted(int(j) for j in _scala_keys(e.jobs()))
            if not jobs:
                continue
            wanted = {
                m.accumulatorId(): PY_METRICS[m.name()]
                for m in _scala_iter(e.metrics()) if m.name() in PY_METRICS
            }
            if not wanted:
                continue
            vals = self.sql.executionMetrics(e.executionId())
            acc = out.setdefault(jobs[0], {})
            for aid, key in wanted.items():
                v = vals.get(aid)
                if v.isDefined():
                    acc[key] = acc.get(key, 0.0) + parse_sql_metric(v.get())
        return out

    def group_counts(self, groups: list[str]) -> dict[str, dict]:
        py = self._py_metrics()
        out = {}
        for g in groups:
            c = dict.fromkeys(SPARK_COUNTS, 0.0)
            c["task_run_s"] = []
            seen: set[int] = set()
            for jid in self.tracker.getJobIdsForGroup(g):
                for k, v in py.get(jid, {}).items():
                    c[k] += v
                ji = self.tracker.getJobInfo(jid)
                for sid in (ji.stageIds if ji else ()):
                    if sid in seen:
                        continue
                    seen.add(sid)
                    self._add_stage(c, sid)
            out[g] = c
        return out

    def _add_stage(self, c: dict, sid: int) -> None:
        try:
            sd = self.store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - py4j error: stage was skipped
            return
        c["exec_run_s"] += sd.executorRunTime() / 1000.0
        c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        c["tasks"] += sd.numCompleteTasks()
        for t in _scala_iter(self.store.taskList(sid, sd.attemptId(), 100_000)):
            m = t.taskMetrics()
            if m.isDefined():
                c["task_run_s"].append(m.get().executorRunTime() / 1000.0)

    def prewarm_window(self):
        """(first submission, last completion) in epoch seconds of the
        jobs ``session.get_spark`` describes as its prewarm."""
        starts, ends = [], []
        for j in _scala_iter(self.store.jobsList(None)):
            d = j.description()
            if not (d.isDefined() and d.get().startswith("session prewarm")):
                continue
            if j.submissionTime().isDefined():
                starts.append(j.submissionTime().get().getTime() / 1000.0)
            if j.completionTime().isDefined():
                ends.append(j.completionTime().get().getTime() / 1000.0)
        if not starts or not ends:
            return None
        return min(starts), max(ends)


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _scala_keys(m):
    return list(_scala_iter(m.keys()))


def layer_metrics(spans: list[Span], counts: dict[str, dict], cores: int,
                  n_jobs: int) -> dict[str, float]:
    """Per-layer metrics, as means per traced job: wall and self time,
    one ``<name>_s`` wall per span name, Spark counts, and the derived
    idle-slot share and task skew.  Layer ``job`` is the root span: its
    wall is the job's, its self time the glue between layer calls, and
    its Spark counts are the totals over every span of the job."""
    selfs = self_times(spans)
    acc: dict[str, dict] = {}

    def add_counts(a: dict, c: dict) -> None:
        for k in SPARK_COUNTS:
            a[k] += c.get(k, 0.0)
        a["task_run_s"] += c.get("task_run_s", [])

    def entry(layer: str) -> dict:
        return acc.setdefault(layer, {"wall_s": 0.0, "self_s": 0.0, "task_run_s": [],
                                      **dict.fromkeys(SPARK_COUNTS, 0.0)})

    for s in spans:
        a = entry(s.layer)
        a["wall_s"] += s.end - s.start
        a["self_s"] += selfs[s.id]
        key = "s" if s.name == s.layer else f"{s.name}_s"
        a[key] = a.get(key, 0.0) + (s.end - s.start)
        c = counts.get(s.group, {})
        add_counts(a, c)
        if s.layer != "job":
            add_counts(entry("job"), c)
    out: dict[str, float] = {}
    for layer, a in acc.items():
        tasks = a.pop("task_run_s")
        for k, v in a.items():
            out[f"{layer}.{k}"] = v / n_jobs
        wall = a["wall_s"]
        out[f"{layer}.idle_slot_frac"] = (
            1.0 - a["exec_run_s"] / (wall * cores) if wall > 0 else 0.0
        )
        med = statistics.median(tasks) if tasks else 0.0
        out[f"{layer}.task_skew"] = max(tasks) / med if med > 0 else 0.0
    return out
