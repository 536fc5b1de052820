"""Traced run: spans around each module's public entry points, one Spark
job group per innermost span, and a fold of the Spark event log into
per-span counters.

The wrappers are installed from here, by rebinding the named functions and
methods wherever ``dc43_spark`` modules imported them; no program file
changes. A wrapper records a ``governance.lineage.SpanRecorder`` span only
while the tracer is active, so traced and untraced steps alternate in one
process and their op times give ``trace_overhead_ratio``.
"""

from __future__ import annotations

import functools
import glob
import importlib
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Optional

MODULES = ("contracts", "expectations", "engine", "governance", "io", "streaming", "functions")
COUNTERS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_bytes", "input_bytes")
OP_TYPES = (
    "governed_write", "governed_read", "merge_snaplog", "merge_delta", "delete", "append",
    "time_travel_read", "table_changes", "stream_pass", "ivm_refresh", "curation_pass",
    "ann_query",
)
PY_SENT, PY_RECEIVED = "data sent to Python workers", "data returned from Python workers"

# (module path, attribute, layer): the public entry points each layer is
# charged through. "Class.method" names patch the method on the class.
ENTRY_POINTS = [
    ("dc43_spark.contracts.store", "_ResolveMixin.resolve", "contracts"),
    ("dc43_spark.contracts.profiling", "profile_columns", "contracts"),
    ("dc43_spark.contracts.drafting", "draft_on_violation", "contracts"),
    ("dc43_spark.expectations.compiler", "expectation_specs", "expectations"),
    ("dc43_spark.expectations.compiler", "row_predicates", "expectations"),
    ("dc43_spark.engine.metrics", "compute_metrics", "engine"),
    ("dc43_spark.engine.validation", "evaluate_contract", "engine"),
    ("dc43_spark.engine.validation", "apply_contract", "engine"),
    ("dc43_spark.governance.orchestrator", "GovernanceService.evaluate_dataset", "governance"),
    ("dc43_spark.governance.stores", "FSGovernanceStore.save_status", "governance"),
    ("dc43_spark.governance.stores", "MemoryGovernanceStore.save_status", "governance"),
    ("dc43_spark.io.read", "read_with_contract", "io"),
    ("dc43_spark.io.read", "read_stream_with_contract", "io"),
    ("dc43_spark.io.write", "write_with_contract", "io"),
    ("dc43_spark.io.write", "execute_write_request", "io"),
    ("dc43_spark.io.merge", "merge_with_contract", "io"),
    ("dc43_spark.io.snaplog", "SnaplogTable.merge", "io"),
    ("dc43_spark.io.snaplog", "SnaplogTable.delete", "io"),
    ("dc43_spark.io.snaplog", "SnaplogTable.update", "io"),
    ("dc43_spark.io.snaplog", "SnaplogTable.write", "io"),
    ("dc43_spark.io.snaplog", "SnaplogTable.read", "io"),
    ("dc43_spark.io.snaplog", "SnaplogTable.table_changes", "io"),
    ("dc43_spark.io.delta_dml", "delta_merge", "io"),
    ("dc43_spark.io.delta_dml", "delta_delete", "io"),
    ("dc43_spark.io.delta_dml", "delta_update", "io"),
    ("dc43_spark.io.delta_log", "delta_write", "io"),
    ("dc43_spark.io.delta_log", "DeltaLogTable.read", "io"),
    ("dc43_spark.io.ivm", "refresh_sum_view", "io"),
    ("dc43_spark.streaming.observer", "observe_stream", "streaming"),
    ("dc43_spark.functions.curation", "corpus_filter", "functions"),
    ("dc43_spark.functions.dedup", "minhash_near_duplicates", "functions"),
    ("dc43_spark.functions.dedup", "dedup_clusters", "functions"),
    ("dc43_spark.functions.similarity", "ivf_query_index_quantized", "functions"),
    ("dc43_spark.functions.similarity", "ivf_write_index_quantized", "functions"),
]


class Tracer:
    """Spans with parent links, one job group per innermost span."""

    def __init__(self, spark) -> None:
        from dc43_spark.governance.lineage import SpanRecorder

        self.sc = spark.sparkContext
        self.recorder = SpanRecorder(clock_ns=time.time_ns)
        self.active = False
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._originals: dict[Any, Any] = {}

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        """A span named ``name`` charged to ``layer``; its id is the job
        group of the Spark jobs it starts itself."""
        stack = self._stack()
        sid = f"pb-{next(self._ids)}"
        parent = stack[-1] if stack else None
        self.sc.setJobGroup(sid, name, False)
        stack.append(sid)
        try:
            with self.recorder.span(name, layer=layer, sid=sid, parent=parent, **attrs):
                yield
        finally:
            stack.pop()
            if stack:
                self.sc.setJobGroup(stack[-1], "", False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Rebind every entry point, in its defining module or class and in
        every loaded ``dc43_spark`` module that imported it by name."""
        for mod_name, attr, layer in ENTRY_POINTS:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                fn = cls.__dict__[meth]
                setattr(cls, meth, self._wrap(fn, attr, layer))
                self._originals[(cls, meth)] = fn
                continue
            fn = getattr(mod, attr)
            wrapped = self._wrap(fn, attr, layer)
            for other in list(sys.modules.values()):
                if getattr(other, "__name__", "").startswith("dc43_spark") and \
                        getattr(other, attr, None) is fn:
                    setattr(other, attr, wrapped)
                    self._originals[(other, attr)] = fn

    def uninstall(self) -> None:
        for (owner, attr), fn in self._originals.items():
            setattr(owner, attr, fn)
        self._originals.clear()


# ----------------------------------------------------------- event log


@dataclass
class JobInfo:
    group: Optional[str]
    submit_ms: float
    end_ms: float = 0.0
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0.0))
    python: dict = field(default_factory=lambda: {PY_SENT: 0.0, PY_RECEIVED: 0.0})


def fold_event_log(lines) -> dict[int, JobInfo]:
    """Fold SparkListener JobStart/JobEnd/TaskEnd records into per-job
    counters: tasks, executor run and CPU seconds, shuffle bytes written,
    input bytes, and the Python-worker byte SQL metrics."""
    jobs: dict[int, JobInfo] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if '"Event"' not in line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = JobInfo(props.get("spark.jobGroup.id"), float(ev["Submission Time"]))
            jobs[ev["Job ID"]] = job
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, ev["Job ID"])
            jobs[ev["Job ID"]].counters["jobs"] = 1
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = float(ev["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            if job is None:
                continue
            m = ev.get("Task Metrics") or {}
            c = job.counters
            c["tasks"] += 1
            c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") in job.python:
                    job.python[acc["Name"]] += float(acc.get("Update") or 0)
    return jobs


def read_event_log(event_dir: str) -> list[str]:
    files = [p for p in glob.glob(os.path.join(event_dir, "*")) if not p.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {event_dir}, found {files}")
    with open(files[0]) as fh:
        return fh.readlines()


def _union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def attribute(spans, jobs: dict[int, JobInfo], windows) -> tuple[dict, int]:
    """Per-module totals over the traced windows, and the number of jobs
    submitted inside a window that no span claims.

    A job belongs to the span whose id is its job group; a job without one
    (a streaming micro-batch, which Spark runs under the query's own group)
    belongs to the innermost span open at its submission. A span's self
    time is its duration minus the union of its children; its driver time
    is self time minus the union of its own jobs' run intervals."""
    by_id = {s.attributes["sid"]: s for s in spans}
    children: dict = {}
    for s in spans:
        children.setdefault(s.attributes.get("parent"), []).append(s)
    own: dict = {sid: [] for sid in by_id}
    unattributed = 0
    for job in jobs.values():
        t_ns = job.submit_ms * 1e6
        if not any(a <= t_ns <= b for a, b in windows):
            continue
        if job.group in own:
            own[job.group].append(job)
            continue
        open_spans = [s for s in spans if s.start_ns <= t_ns <= s.end_ns]
        if open_spans:
            own[max(open_spans, key=lambda s: s.start_ns).attributes["sid"]].append(job)
        else:
            unattributed += 1
    totals = {m: dict.fromkeys(("self_s", "driver_s", *COUNTERS), 0.0) for m in MODULES}
    python = {PY_SENT: 0.0, PY_RECEIVED: 0.0}
    for sid, s in by_id.items():
        layer = s.attributes["layer"]
        if layer not in totals:
            continue
        kids = [(c.start_ns, c.end_ns) for c in children.get(sid, [])]
        self_s = (s.end_ns - s.start_ns - _union(kids)) / 1e9
        busy = [
            (max(j.submit_ms * 1e6, s.start_ns), min((j.end_ms or j.submit_ms) * 1e6, s.end_ns))
            for j in own[sid]
        ]
        busy = [(a, b) for a, b in busy if b > a]
        t = totals[layer]
        t["self_s"] += self_s
        t["driver_s"] += max(0.0, self_s - _union(busy) / 1e9)
        for job in own[sid]:
            for k in COUNTERS:
                t[k] += job.counters[k]
            if layer == "functions":
                for k in python:
                    python[k] += job.python[k]
    return {"modules": totals, "python": python}, unattributed


# ---------------------------------------------------------- traced run


@dataclass
class TracedRun:
    tracer: Tracer
    records: list
    windows: list
    cached_blocks: list
    write_versions: list  # (record, versions before, versions after)
    problems: list
    jvm_rss_mb: float = 0.0


def run_steps(session, wl) -> TracedRun:
    """A traced step, then an untraced one of the same op types; then check
    every output. The traced step is step 0, the one a ``--trace 0`` run
    times. It runs first, so what JVM warming remains after the warm-up
    makes the overhead ratio err high, never low. Call ``per_layer`` after
    the session stops, when the event log is complete."""
    from perfbench.harness import jvm_peak_rss_mb, run_op

    tracer = Tracer(session.spark)
    tracer.install()
    jsc = session.spark.sparkContext._jsc
    out = TracedRun(tracer, [], [], [], [], [])
    for step in (0, 1):
        traced = step == 0
        for make in wl.schedule(step):
            op = make()
            track = traced and op.kind == "write" and hasattr(wl, "versions")
            before = wl.versions() if track else None

            def wrap(op=op):
                with tracer.span(op.type, op.layer, op=True):
                    return op.run()

            tracer.active = traced
            t0 = time.time_ns()
            rec = run_op(op, traced=traced, index=len(out.records), wrap=wrap if traced else None)
            t1 = time.time_ns()
            tracer.active = False
            out.records.append(rec)
            if traced:
                out.windows.append((t0, t1))
                out.cached_blocks.append(jsc.getPersistentRDDs().size())
                if track:
                    out.write_versions.append((rec, before, wl.versions()))
    tracer.uninstall()
    out.problems = wl.check(out.records)
    out.jvm_rss_mb = jvm_peak_rss_mb(session.jvm_pid)
    return out


def _progress_time(p) -> float:
    from datetime import datetime

    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def per_layer(run: TracedRun, wl, event_dir: str) -> dict:
    """Every per-layer metric, as a per-op mean over the traced step unless
    the name says otherwise."""
    import statistics

    from perfbench.harness import python_peak_rss_mb

    traced = [r for r in run.records if r.traced]
    plain = [r for r in run.records if not r.traced]
    n = max(1, len(traced))
    jobs = fold_event_log(read_event_log(event_dir))
    totals, unattributed = attribute(run.tracer.recorder.spans, jobs, run.windows)
    m: dict[str, float] = {}
    for mod in MODULES:
        for k, v in totals["modules"][mod].items():
            m[f"{mod}.{k}"] = v / n
    for t in OP_TYPES:
        lat = [r.seconds for r in plain if r.type == t]
        m[f"op.{t}.p50_s"] = statistics.median(lat) if lat else 0.0

    io = wl.table_stats(run.write_versions) if hasattr(wl, "table_stats") else {}
    for k in ("files_added_per_write", "files_removed_per_write", "dv_files_per_write",
              "bytes_written_per_source_byte", "table_versions", "checkpoints_written"):
        m[f"io.{k}"] = float(io.get(k, 0.0))

    passes = [r.payload for r in traced if r.type == "stream_pass" and r.ok]
    firsts, durations, batches = [], [], []
    for _, _, started, progress in passes:
        if progress:
            p0 = progress[0]
            firsts.append(_progress_time(p0) + p0["durationMs"]["triggerExecution"] / 1e3 - started)
        durations += [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
        batches.append(len(progress))
    m["streaming.first_progress_s"] = statistics.mean(firsts) if firsts else 0.0
    m["streaming.batch_duration_s"] = statistics.mean(durations) if durations else 0.0
    m["streaming.batches_per_pass"] = float(statistics.mean(batches)) if batches else 0.0

    m["functions.python_bytes_sent"] = totals["python"][PY_SENT] / n
    m["functions.python_bytes_received"] = totals["python"][PY_RECEIVED] / n
    recalls = getattr(wl, "recalls", [])
    m["functions.ann_recall_at_k"] = statistics.mean(recalls) if recalls else 0.0

    m["spark.unattributed_jobs"] = float(unattributed)
    m["spark.cached_blocks_after_op"] = float(statistics.mean(run.cached_blocks)) if run.cached_blocks else 0.0
    m["driver.jvm_peak_rss_mb"] = run.jvm_rss_mb
    m["driver.python_peak_rss_mb"] = python_peak_rss_mb()
    t_plain, t_traced = sum(r.seconds for r in plain), sum(r.seconds for r in traced)
    m["trace_overhead_ratio"] = t_traced / t_plain if t_plain else 0.0
    bad = {r.index for r in run.records if not r.ok} | {i for i, _ in run.problems if i is not None}
    m["failed_ops_ratio"] = len(bad) / max(1, len(run.records))
    return m
