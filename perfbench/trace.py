"""Traced-run support: spans around layer calls, one Spark job group per
span, and a Spark event-log reader that turns both into per-layer metrics.

A span is opened by the benchmark around a call into an engine module and
is named after that module (its *layer*). In a traced run, ``instrument``
also wraps the public entry points of the layers from outside, so calls the
engine makes internally (a pipeline appending to a ``TxnTable``, an index
refreshing its view) get spans of their own. Every span sets a Spark job
group, so each Spark job is attributed to the innermost open span. Spans
stay in memory; the event log is read once the session has stopped.

With tracing off, ``Tracer.span`` is a no-op and nothing is wrapped.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import re
import sys
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

# Layers in report order. ``session`` is measured during set-up; every other
# layer is measured over the timed region only.
LAYERS = [
    "session",
    "pipelines.ingest",
    "sources.fake_site",
    "operators.extract",
    "pipelines.parse",
    "pipelines.impute",
    "pipelines.export",
    "sources.txn",
    "sources.mv",
    "operators.lshindex",
    "operators.fpindex",
    "operators.pq",
    "sources.tables",
    "operators.dedup",
    "operators.similarity",
    "operators.textops",
]
GENERIC = ["calls", "self_s", "jobs", "driver_gap_s", "task_s", "shuffle_bytes"]
EXTRAS = [
    "session.start_s",
    "sources.fake_site.fetch_per_url",
    "operators.extract.python_task_s",
    "sources.txn.commits",
    "sources.txn.jobs_per_commit",
    "sources.txn.files_added",
    "sources.txn.bytes_written",
    "sources.mv.refreshes",
    "operators.lshindex.cand_per_doc",
    "operators.fpindex.cand_per_doc",
    "operators.pq.files_read_per_probe",
    "sources.tables.input_bytes",
    "operators.similarity.pairs_verified_per_candidate",
]
SPARK = [
    "spark.jobs",
    "spark.tasks",
    "spark.driver_gap_s",
    "spark.task_cpu_s",
    "spark.spill_bytes",
    "spark.slot_busy_frac",
]
TOTALS = ["unattributed_s", "traced_wall_s", "trace.instrument_s"]

UNITS = {
    "calls": "count",
    "jobs": "count",
    "shuffle_bytes": "bytes",
    "tasks": "count",
    "spill_bytes": "bytes",
    "slot_busy_frac": "ratio",
    "fetch_per_url": "ratio",
    "commits": "count",
    "jobs_per_commit": "ratio",
    "files_added": "count",
    "bytes_written": "bytes",
    "refreshes": "count",
    "cand_per_doc": "ratio",
    "files_read_per_probe": "ratio",
    "input_bytes": "bytes",
    "pairs_verified_per_candidate": "ratio",
}


def metric_names() -> list[str]:
    """Every per-layer metric a traced run prints, in order."""
    return [f"{l}.{g}" for l in LAYERS for g in GENERIC] + EXTRAS + SPARK + TOTALS


def unit_of(name: str) -> str:
    return UNITS.get(name.rsplit(".", 1)[-1], "s")


# Plan fragment that marks the HTML-extraction pandas UDF
# (operators/extract.py names its UDF ``_extract``; not ``regexp_extract``).
EXTRACT_UDF = re.compile(r"(?<!\w)_extract\(")


@dataclass
class Span:
    sid: str
    layer: str
    parent: str | None
    start: float
    end: float = 0.0
    run_id: str = ""


@dataclass
class Tracer:
    """Spans and counters for one run. ``enabled=False`` makes every span
    a no-op."""

    enabled: bool
    run_id: str
    sc: object = None
    spans: list[Span] = field(default_factory=list)
    stack: list[Span] = field(default_factory=list)
    calls: list = field(default_factory=list)  # (layer.function, epoch s) per wrapped call
    probe_spans: set = field(default_factory=set)
    instrument_s: float = 0.0

    def span(self, layer: str):
        if not self.enabled or (self.stack and self.stack[-1].layer == layer):
            return nullcontext()
        return self._span(layer)

    @contextmanager
    def _span(self, layer: str):
        t0 = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        sp = Span(f"{self.run_id}-{len(self.spans)}", layer,
                  parent.sid if parent else None, 0.0, run_id=self.run_id)
        self.spans.append(sp)
        self.stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(sp.sid, layer)
        sp.start = time.time()
        self.instrument_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            sp.end = time.time()
            self.stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.sid, parent.layer)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.instrument_s += time.perf_counter() - t1


# ------------------------------------------------------------ instrument


def _wrap(tracer: Tracer, layer: str, fn):
    key = f"{layer}.{fn.__name__}"

    @functools.wraps(fn)
    def wrapper(*a, **kw):
        tracer.calls.append((key, time.time()))
        with tracer.span(layer):
            return fn(*a, **kw)

    wrapper.__perfbench_wrapped__ = True
    return wrapper


def instrument(tracer: Tracer) -> None:
    """Wrap the public entry points of each layer module, and every
    reference to them that other engine modules imported by name."""
    import importlib

    mods = {
        "pipelines.ingest": ["ingest"],
        "pipelines.parse": ["parse"],
        "pipelines.impute": ["impute"],
        "pipelines.export": ["export"],
        "operators.extract": ["extract_jobs"],
        "sources.txn": ["read_table_any", "TxnTable"],
        "sources.mv": ["IncrementalAggView"],
        "operators.lshindex": ["LshSignatureIndex"],
        "operators.fpindex": ["FingerprintIndex"],
        "operators.pq": None,
        "sources.tables": None,
        "operators.dedup": None,
        "operators.similarity": None,
        "operators.textops": None,
    }
    replaced: dict[int, object] = {}
    for layer, names in mods.items():
        mod = importlib.import_module(f"scraping_jobsdb_spark.{layer}")
        if names is None:  # every public function the module defines
            names = [n for n, o in vars(mod).items() if not n.startswith("_")
                     and inspect.isfunction(o) and o.__module__ == mod.__name__]
        for name in names:
            obj = getattr(mod, name, None)
            if inspect.isclass(obj):
                for attr, member in list(vars(obj).items()):
                    if attr.startswith("_") or getattr(member, "__perfbench_wrapped__", False):
                        continue
                    if isinstance(member, classmethod):
                        setattr(obj, attr, classmethod(_wrap(tracer, layer, member.__func__)))
                    elif isinstance(member, staticmethod):
                        setattr(obj, attr, staticmethod(_wrap(tracer, layer, member.__func__)))
                    elif inspect.isfunction(member):
                        setattr(obj, attr, _wrap(tracer, layer, member))
            elif inspect.isfunction(obj) and not getattr(obj, "__perfbench_wrapped__", False):
                w = _wrap(tracer, layer, obj)
                replaced[id(obj)] = w
                setattr(mod, name, w)
    # rebind ``from module import fn`` references held by other engine modules
    for mname, mod in list(sys.modules.items()):
        if not mname.startswith("scraping_jobsdb_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            w = replaced.get(id(val))
            if w is not None and val is not w:
                setattr(mod, attr, w)


# ------------------------------------------------------------ event log


def _union(intervals):
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def _subtract(base, cut):
    """Intervals of ``base`` not covered by the sorted disjoint ``cut``."""
    out = []
    for s, e in base:
        cur = s
        for cs, ce in cut:
            if ce <= cur or cs >= e:
                continue
            if cs > cur:
                out.append([cur, cs])
            cur = max(cur, ce)
        if cur < e:
            out.append([cur, e])
    return out


def _length(intervals) -> float:
    return sum(e - s for s, e in intervals)


@dataclass
class EventLog:
    jobs: dict  # job id -> {group, exec, submit, end, stages}
    stage_job: dict  # stage id -> job id
    tasks: list  # (stage, run_s, cpu_s, shuffle_bytes, spill_bytes, input_bytes)
    plans: dict  # sql execution id -> concatenated plan text
    files_read: dict  # sql execution id -> files opened by its scans


def _lines(files):
    for f in files:
        with open(f) as fh:
            yield from fh


def read_event_log(log_dir: str) -> EventLog:
    # one plain file per application, or a directory of rolled event files
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                   if os.path.isfile(f) and not os.path.basename(f).startswith("."))
    if not files:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    jobs, stage_job, tasks, plans = {}, {}, [], {}
    files_ids, driver_updates = set(), []
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "exec": int(ex) if ex not in (None, "") else None,
                "submit": ev["Submission Time"] / 1000.0,
                "end": ev["Submission Time"] / 1000.0,
            }
            for s in ev.get("Stage IDs", []):
                stage_job.setdefault(s, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append((
                ev["Stage ID"],
                m.get("Executor Run Time", 0) / 1000.0,
                m.get("Executor CPU Time", 0) / 1e9,
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                + sw.get("Shuffle Bytes Written", 0),
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                (m.get("Input Metrics") or {}).get("Bytes Read", 0),
            ))
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            eid = ev.get("executionId")
            plans[eid] = plans.get(eid, "") + ev.get("physicalPlanDescription", "")
            nodes = [ev.get("sparkPlanInfo") or {}]
            while nodes:
                node = nodes.pop()
                nodes.extend(node.get("children", []))
                files_ids.update(m["accumulatorId"] for m in node.get("metrics", [])
                                 if m.get("name") == "number of files read")
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            driver_updates.append((ev.get("executionId"), ev.get("accumUpdates", [])))
    files_read: dict = {}
    for eid, ups in driver_updates:
        for acc_id, value in ups:
            if acc_id in files_ids:
                files_read[eid] = files_read.get(eid, 0) + value
    return EventLog(jobs, stage_job, tasks, plans, files_read)


def layer_metrics(
    tracer: Tracer,
    log: EventLog,
    window: tuple[float, float],
    cores: int,
    extras: dict,
) -> dict[str, float]:
    """Per-layer metrics over the timed ``window`` (epoch seconds).

    Self time of a span is its duration minus the union of its children.
    ``unattributed_s`` is the part of the window no top-level span covers,
    so the layers' self times plus ``unattributed_s`` add up to
    ``traced_wall_s`` only when spans nest properly and siblings do not
    overlap. Jobs, task time, shuffle and input bytes go to the span
    whose job group the job carried (jobs without a group are placed by
    submission time); ``driver_gap_s`` is self time not covered by any
    Spark job."""
    w0, w1 = window
    wall = w1 - w0
    spans = [s for s in tracer.spans if s.start >= w0 and s.end <= w1 and s.layer != "session"]
    by_id = {s.sid: s for s in spans}
    children: dict[str, list] = {}
    for s in spans:
        if s.parent in by_id:
            children.setdefault(s.parent, []).append([s.start, s.end])

    jobs = {j: v for j, v in log.jobs.items() if w0 <= v["submit"] <= w1}
    job_iv = _union([[v["submit"], v["end"]] for v in jobs.values()])

    def owner(v):
        if v["group"] in by_id:
            return v["group"]
        best = None  # innermost span open at submission time
        for s in spans:
            if s.start <= v["submit"] <= s.end and (best is None or s.start >= best.start):
                best = s
        return best.sid if best else None

    stage_tasks: dict[int, list] = {}
    for t in log.tasks:
        stage_tasks.setdefault(t[0], []).append(t)
    job_tasks: dict[int, list] = {j: [] for j in jobs}
    for st, j in log.stage_job.items():
        if j in job_tasks:
            job_tasks[j].extend(stage_tasks.get(st, []))

    out = {m: 0.0 for m in metric_names()}
    span_jobs: dict[str, list] = {}
    for j, v in jobs.items():
        span_jobs.setdefault(owner(v), []).append(j)
    input_bytes: dict[str, float] = {}
    for s in spans:
        self_iv = _subtract([[s.start, s.end]], _union(children.get(s.sid, [])))
        self_s = _length(self_iv)
        gap = _length(_subtract(self_iv, job_iv))
        p = by_id.get(s.parent)
        if p is None or p.layer != s.layer:
            out[f"{s.layer}.calls"] += 1
        out[f"{s.layer}.self_s"] += self_s
        out[f"{s.layer}.driver_gap_s"] += gap
        for j in span_jobs.get(s.sid, []):
            out[f"{s.layer}.jobs"] += 1
            for t in job_tasks[j]:
                out[f"{s.layer}.task_s"] += t[1]
                out[f"{s.layer}.shuffle_bytes"] += t[3]
                input_bytes[s.layer] = input_bytes.get(s.layer, 0) + t[5]

    all_tasks = [t for j in jobs for t in job_tasks[j]]
    out["spark.jobs"] = len(jobs)
    out["spark.tasks"] = len(all_tasks)
    out["spark.driver_gap_s"] = _length(_subtract([[w0, w1]], job_iv))
    out["spark.task_cpu_s"] = sum(t[2] for t in all_tasks)
    out["spark.spill_bytes"] = sum(t[4] for t in all_tasks)
    out["spark.slot_busy_frac"] = sum(t[1] for t in all_tasks) / (wall * cores)
    # scan bytes of the jobs that ran inside ``sources.tables`` spans
    out["sources.tables.input_bytes"] = input_bytes.get("sources.tables", 0)

    # Python-lane task time of the HTML-extraction UDF
    out["operators.extract.python_task_s"] = sum(
        t[1]
        for j, v in jobs.items()
        if EXTRACT_UDF.search(log.plans.get(v["exec"], ""))
        for t in job_tasks[j]
    )
    # files opened by the scans of the ANN probe rounds
    pq_execs = {
        jobs[j]["exec"]
        for s in spans if s.sid in tracer.probe_spans
        for j in span_jobs.get(s.sid, [])
    }
    pq_files = sum(log.files_read.get(e, 0) for e in pq_execs if e is not None)
    probes = sum(1 for s in spans if s.sid in tracer.probe_spans)
    out["operators.pq.files_read_per_probe"] = pq_files / probes if probes else 0.0

    out["sources.mv.refreshes"] = sum(
        1 for key, t in tracer.calls if key == "sources.mv.refresh" and w0 <= t <= w1
    )
    out["sources.txn.jobs_per_commit"] = (
        out["sources.txn.jobs"] / extras["sources.txn.commits"]
        if extras.get("sources.txn.commits") else 0.0
    )
    out.update(extras)
    top = [[s.start, s.end] for s in spans if s.parent not in by_id]
    out["unattributed_s"] = _length(_subtract([[w0, w1]], _union(top)))
    out["traced_wall_s"] = wall
    out["trace.instrument_s"] = tracer.instrument_s
    return out
