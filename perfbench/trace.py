"""Per-layer tracing from outside the package.

Two sources feed the per-layer table:

* **Spans.** While tracing is on, ``Tracer.install`` replaces the
  package's public layer functions (module attributes, the same names
  the callers look up) with wrappers that record a span and set the
  Spark job group ``<op>:<layer>`` on the calling thread, restoring the
  previous group on exit. The fitter's ``ThreadPoolExecutor`` is
  replaced by a subclass that links pool-thread spans to the submitting
  span and times how long the caller blocks on each future
  (``fitter.wait_s``). Lazy layers (those returning a DataFrame) are
  timed by ``Tracer.span`` blocks in the workload code around the call
  and the action that runs it.
* **Spark's event log.** ``parse_event_log`` reads the plain-JSON event
  log written during a traced run and sums task metrics per job group.
  Stages that run the fit fan-out (a ``MapInPandas`` stage in a SQL
  execution whose plan reads a ``Range``) are moved from the layer
  whose action triggered them (``results``) to the ``fit`` layer.
"""

from __future__ import annotations

import importlib
import itertools
import json
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

def _sample_rows(args, kwargs, result):
    return {"rows": sum(len(v) for v in result.values() if v is not None)}


def _planned_kernels(args, kwargs, result):
    plans = args[1] if len(args) > 1 else kwargs["plans"]
    return {"kernels": sum(len(p["names"]) for p in plans.values())}


# (module, attribute, layer, counter): ``counter(args, kwargs, result)``
# returns counts to attach to the span
LAYER_FUNCTIONS = [
    ("spark_bestfit_spark.fitter", "DistributionFitter.fit", "fitter", None),
    ("spark_bestfit_spark.fitter", "multi_column_stats", "stats", None),
    ("spark_bestfit_spark.fitter", "compute_histograms_multi", "histogram",
     None),
    ("spark_bestfit_spark.fitter", "build_fitting_samples_multi", "sampling",
     _sample_rows),
    ("spark_bestfit_spark.fitter", "parallel_fit_columns", "fit",
     _planned_kernels),
    ("spark_bestfit_spark.results", "FitResults.best", "results", None),
    ("spark_bestfit_spark.results", "FitResults.best_per_column", "results",
     None),
    ("spark_bestfit_spark.functions.metrics", "compute_ks_and_ad", "metrics",
     None),
    ("spark_bestfit_spark.models.copula", "GaussianCopula.fit", "copula",
     None),
    ("spark_bestfit_spark.models.copula", "spearman_correlation",
     "copula.corr", None),
]

# layers whose Spark work is reported from the event log
SPARK_LAYERS = ["fitter", "stats", "histogram", "sampling", "fit", "results",
                "copula", "generate", "dedup", "linkage", "textstats"]


@dataclass
class Span:
    op: str
    layer: str
    sid: int
    parent: int | None
    thread: int
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    """Records spans of the current op; inert until ``enabled``."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.op = "idle"
        self.spans: list = []
        self.waits: list = []  # (op, seconds blocked on a prelude future)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else getattr(self._local, "parent", None)

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield None
            return
        sc = self.sc
        prev = (sc.getLocalProperty("spark.jobGroup.id"),
                sc.getLocalProperty("spark.job.description"))
        sc.setJobGroup(f"{self.op}:{layer}", layer)
        s = Span(self.op, layer, next(self._ids), self.current(),
                 threading.get_ident(), time.perf_counter())
        self._stack().append(s.sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack().pop()
            sc.setLocalProperty("spark.jobGroup.id", prev[0])
            sc.setLocalProperty("spark.job.description", prev[1])
            with self._lock:
                self.spans.append(s)

    # ---------------------------------------------------------- wrapping
    def _wrap(self, fn, layer, counter):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(layer) as s:
                result = fn(*args, **kwargs)
                if s is not None and counter is not None:
                    s.counts.update(counter(args, kwargs, result))
                return result

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        """Wrap every layer function and the fitter's thread pool."""
        for module_name, attr, layer, counter in LAYER_FUNCTIONS:
            owner = importlib.import_module(module_name)
            *path, name = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            raw = owner.__dict__[name]
            self._saved.append((owner, name, raw))
            if isinstance(raw, classmethod):
                wrapped = classmethod(self._wrap(raw.__func__, layer, counter))
            else:
                wrapped = self._wrap(raw, layer, counter)
            setattr(owner, name, wrapped)
        fitter = importlib.import_module("spark_bestfit_spark.fitter")
        self._saved.append((fitter, "ThreadPoolExecutor",
                            fitter.__dict__["ThreadPoolExecutor"]))
        fitter.ThreadPoolExecutor = self._pool_class()

    def uninstall(self) -> None:
        while self._saved:
            owner, name, raw = self._saved.pop()
            setattr(owner, name, raw)

    def _pool_class(self):
        tracer = self

        class TracedPool(ThreadPoolExecutor):
            """Links pool-thread spans to the submitting span and times
            the submitter's wait on each future."""

            def submit(self, fn, /, *args, **kwargs):
                parent = tracer.current()

                def run():
                    tracer._local.parent = parent
                    try:
                        return fn(*args, **kwargs)
                    finally:
                        tracer._local.parent = None

                future = super().submit(run)
                blocking_result = future.result

                def timed_result(timeout=None):
                    t0 = time.perf_counter()
                    try:
                        return blocking_result(timeout)
                    finally:
                        with tracer._lock:
                            tracer.waits.append(
                                (tracer.op, time.perf_counter() - t0))

                future.result = timed_result
                return future

        return TracedPool


# ------------------------------------------------------------- span math
def _union_length(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_table(spans: list, waits: list, op: str) -> dict:
    """Per-op span sums by layer: ``busy_s`` (total span time),
    ``self_s`` (span time not covered by child spans), ``calls`` and the
    spans' counters; plus ``wait_s`` (the fitter's time blocked on
    prelude futures) and ``top_s`` (summed top-level span time, output
    checks excluded)."""
    mine = [s for s in spans if s.op == op]
    children: dict = {}
    for s in mine:
        children.setdefault(s.parent, []).append(s)
    layers: dict = {}
    top_s = 0.0
    for s in mine:
        dur = s.end - s.start
        covered = _union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.sid, []) if c.end > s.start
        )
        row = layers.setdefault(s.layer, {"busy_s": 0.0, "self_s": 0.0,
                                          "calls": 0})
        row["busy_s"] += dur
        row["self_s"] += dur - covered
        row["calls"] += 1
        for k, v in s.counts.items():
            row[k] = row.get(k, 0) + v
        if s.parent is None and s.layer != "check":
            top_s += dur
    return {"layers": layers, "top_s": top_s,
            "wait_s": sum(w for o, w in waits if o == op)}


# ------------------------------------------------------------- event log
def _scope_names(stage_info: dict) -> set:
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        try:
            names.add(json.loads(rdd.get("Scope") or "{}").get("name"))
        except ValueError:
            continue
    return names


def parse_event_log(path: str) -> dict:
    """Read a plain-JSON Spark event log into jobs and tasks.

    Returns ``{"jobs": [...], "tasks": [...]}``; every task carries the
    job group and layer of its stage, with fan-out stages moved to the
    ``fit`` layer.
    """
    plans: dict = {}
    jobs: list = []
    stage_job: dict = {}
    stage_scopes: dict = {}
    tasks: list = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind.endswith("SQLExecutionStart"):
                plans[e["executionId"]] = e.get("physicalPlanDescription", "")
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                job = {
                    "id": e["Job ID"],
                    "group": props.get("spark.jobGroup.id"),
                    "submit_ms": e["Submission Time"],
                    "exec": int(exec_id) if exec_id is not None else None,
                }
                jobs.append(job)
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, job)
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                stage_scopes[info["Stage ID"]] = _scope_names(info)
            elif kind == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                python_ms = sum(
                    int(a.get("Update", 0)) for a in info.get("Accumulables", [])
                    if a.get("Name") == "time to run Python workers"
                )
                shuffle = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "stage": e["Stage ID"],
                    "launch_ms": info["Launch Time"],
                    "finish_ms": info["Finish Time"],
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "shuffle_bytes": shuffle.get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                    "python_s": python_ms / 1e3,
                })
    for job in jobs:
        plan = plans.get(job["exec"], "")
        job["reads_range"] = "Range" in plan
        group = job["group"] or ""
        job["op"], _, job["layer"] = group.partition(":")
    for t in tasks:
        job = stage_job.get(t["stage"])
        t["op"] = job["op"] if job else ""
        layer = job["layer"] if job else ""
        if (job and job["reads_range"] and layer in ("results", "fitter")
                and "MapInPandas" in stage_scopes.get(t["stage"], ())):
            layer = "fit"
        t["layer"] = layer
    return {"jobs": jobs, "tasks": tasks}


def event_table(log: dict, op: str) -> dict:
    """Per-op event-log sums by layer (``jobs``, ``tasks``, ``cpu_s``,
    ``gc_s``, ``shuffle_bytes``, ``spill_bytes``, ``python_s``), plus
    the fan-out's wall time ``fanout_s`` and task times ``task_s``."""
    layers: dict = {}

    def row(layer):
        return layers.setdefault(layer, {
            "jobs": set(), "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_bytes": 0, "spill_bytes": 0, "python_s": 0.0})

    for job in log["jobs"]:
        if job["op"] == op:
            row(job["layer"])["jobs"].add(job["id"])
    fanout_stages: dict = {}
    task_s: list = []
    for t in log["tasks"]:
        if t["op"] != op:
            continue
        r = row(t["layer"])
        for k in ("cpu_s", "gc_s", "shuffle_bytes", "spill_bytes",
                  "python_s"):
            r[k] += t[k]
        r["tasks"] += 1
        if t["layer"] == "fit":
            lo, hi = fanout_stages.get(t["stage"], (t["launch_ms"],
                                                    t["finish_ms"]))
            fanout_stages[t["stage"]] = (min(lo, t["launch_ms"]),
                                         max(hi, t["finish_ms"]))
            task_s.append((t["finish_ms"] - t["launch_ms"]) / 1e3)
    for r in layers.values():
        r["jobs"] = len(r["jobs"])
    return {"layers": layers, "task_s": task_s,
            "fanout_s": _union_length(fanout_stages.values()) / 1e3}


def ungrouped_jobs(log: dict, start_s: float, end_s: float) -> int:
    """Jobs submitted in [start_s, end_s] (epoch seconds) that carry no
    ``<op>:<layer>`` job group."""
    return sum(
        1 for j in log["jobs"]
        if start_s * 1e3 <= j["submit_ms"] <= end_s * 1e3 and not j["layer"]
    )


def median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default
