"""Session, closed-loop timing and result reporting shared by the workloads.

A workload object supplies ``setup()``, ``warm_up()``, ``schedule(step)``
(the ops of one closed-loop step, in order) and ``check()``. The harness
times each op with ``time.perf_counter`` from call to return; an op returns
``OpResult`` and must have consumed its output (collect, count or write) by
then. Bookkeeping between ops (the reference model, version reads) runs with
the clock paused, so the timed region is the sum of op latencies.
"""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

READ, WRITE = "read", "write"


@dataclass
class OpResult:
    """What an op hands back: input rows it consumed, and any payload the
    output check needs (checked after the timed region)."""

    rows: int
    payload: Any = None


@dataclass
class Op:
    """One closed-loop operation. ``run`` does the timed work; ``after``
    (optional) updates the workload's reference state with the clock
    paused, receiving the ``OpResult``."""

    type: str
    kind: str  # READ | WRITE
    layer: str  # module charged for the harness-side materialisation
    run: Callable[[], OpResult]
    after: Optional[Callable[[OpResult], None]] = None
    target: Optional[str] = None  # the table or output a whole-run check covers
    # the op type and input variant (dataset, table, batch size...) that
    # ops of the same cost share; tails group ops by it
    shape: str = ""


@dataclass
class OpRecord:
    type: str
    kind: str
    seconds: float
    rows: int
    traced: bool
    ok: bool = True
    error: Optional[str] = None
    payload: Any = None
    index: int = 0
    target: Optional[str] = None
    shape: str = ""


@dataclass
class Session:
    """A Spark session rooted in a private work directory of the checkout."""

    spark: Any
    work: str
    event_log_dir: Optional[str]
    jvm_pid: Optional[int]
    _gateway_proc: Any = None

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        proc = self._gateway_proc
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(root: str, work: str, *, trace: bool) -> Session:
    """Start ``local[nproc]`` with everything it writes under ``work``.

    The repo root goes on the Python workers' path both through the
    inherited environment and ``spark.executorEnv.PYTHONPATH``: the DML
    staging UDFs import ``dc43_spark`` inside the worker, which fails when
    the benchmark is launched from outside the repo."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    pypath = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYTHONPATH"] = pypath
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp
    from dc43_spark.session import governed_session

    conf = {
        "spark.ui.enabled": "false",
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.python.filterPushdown.enabled": "true",
        "spark.executorEnv.PYTHONPATH": pypath,
        "spark.ui.showConsoleProgress": "false",
    }
    event_dir = None
    if trace:
        event_dir = os.path.join(local, "eventlog")
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                # Spark 4.1 rolls event logs by default; the fold reads
                # one plain file
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = governed_session(
        "perfbench",
        master=f"local[{cores()}]",
        shuffle_partitions=cores(),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return Session(
        spark=spark,
        work=work,
        event_log_dir=event_dir,
        jvm_pid=getattr(proc, "pid", None),
        _gateway_proc=proc,
    )


def run_op(op: Op, *, traced: bool, index: int, wrap=None) -> OpRecord:
    """Time one op; an exception marks it failed instead of ending the run."""
    rec = OpRecord(op.type, op.kind, 0.0, 0, traced, index=index, target=op.target,
                   shape=op.shape)
    t0 = time.perf_counter()
    try:
        res = wrap(op) if wrap is not None else op.run()
        rec.seconds = time.perf_counter() - t0
        rec.rows, rec.payload = res.rows, res.payload
        if op.after is not None:
            op.after(res)
    except Exception as exc:  # one failed op must not end the closed loop
        rec.seconds = time.perf_counter() - t0
        rec.ok, rec.error = False, f"{type(exc).__name__}: {exc}"
        traceback.print_exc(file=sys.stderr)
    return rec


def tail(records: list[OpRecord]) -> tuple[float, dict]:
    """The tail latency of ``records`` and how it was taken.

    With n >= 20 samples: the highest percentile with at least ten samples
    beyond it, the sorted sample at index n-11 (percentile 100*(n-10)/n).
    Under twenty samples that percentile would fall at or below the
    median, so the tail is the slowest op shape at its median latency over
    the run. With one op of a shape that is the op itself; with more, one
    slow op does not decide the tail alone."""
    xs = sorted(r.seconds for r in records)
    n = len(xs)
    if n >= 20:
        return xs[n - 11], {"tail_percentile": round(100.0 * (n - 10) / n, 2), "samples": n}
    by_shape: dict = {}
    for r in records:
        by_shape.setdefault(r.shape, []).append(r.seconds)
    shape, lat = max(by_shape.items(), key=lambda kv: statistics.median(kv[1]))
    return statistics.median(lat), {"tail_shape": shape, "shape_samples": len(lat), "samples": n}


def end_to_end(records: list[OpRecord], setup_s: float) -> tuple[dict, dict]:
    """The end-to-end metrics of one run, plus how each tail was taken."""
    wall = sum(r.seconds for r in records)
    rows = sum(r.rows for r in records if r.ok)
    out = {"setup_s": setup_s, "rows_per_s": rows / wall if wall else 0.0}
    info = {}
    for kind in (READ, WRITE):
        ops = [r for r in records if r.kind == kind]
        if not ops:
            raise RuntimeError(f"no {kind} op ran in the timed region")
        out[f"{kind}_p50_s"] = statistics.median(r.seconds for r in ops)
        out[f"{kind}_tail_s"], info[kind] = tail(ops)
    return out, info


def python_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def jvm_peak_rss_mb(pid: Optional[int]) -> float:
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


@dataclass
class WorkDir:
    """``<root>/.perfbench_work/<pid>``, removed when the run ends."""

    root: str
    path: str = field(init=False)

    def __post_init__(self) -> None:
        self.path = os.path.join(self.root, ".perfbench_work", str(os.getpid()))
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        try:
            os.rmdir(parent)
        except OSError:
            pass


def charge(records: list[OpRecord], msg: str, covers: Callable[[OpRecord], bool]) -> list:
    """A failed whole-run check (a table head, a view, a sink) as one
    problem per op it covers, so each counts in ``failed_ops_ratio``;
    ``(None, msg)`` when no such op ran."""
    return [(r.index, msg) for r in records if covers(r)] or [(None, msg)]


def declared_units(root: str) -> dict:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them."""
    import json

    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}


def result(records: list[OpRecord], problems: list, metrics: dict, info: dict, units: dict) -> dict:
    """The summary line (last line of stdout) and a detail line before it.

    An op counts as failed when it raised or its output check failed."""
    bad = {r.index for r in records if not r.ok} | {i for i, _ in problems if i is not None}
    global_problems = [msg for i, msg in problems if i is None]
    summary = {
        "correct": not bad and not global_problems,
        "attempted": len(records),
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    detail = {
        "failed_ops_ratio": len(bad) / len(records) if records else 0.0,
        "tails": info,
        "ops": {},
        "errors": [r.error for r in records if r.error][:5],
        "problems": [msg for _, msg in problems][:10],
    }
    for r in records:
        d = detail["ops"].setdefault(r.type, {"n": 0, "seconds": []})
        d["n"] += 1
        d["seconds"].append(round(r.seconds, 4))
    return {"summary": summary, "detail": detail}
