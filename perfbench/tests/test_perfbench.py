"""Self-tests for the benchmark. Run from the repo root:

    python3 -m pytest perfbench/tests -q

The last test runs each workload's traced schedule twice (a few minutes).
"""

from __future__ import annotations

import io
import json
import os
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.trace import COUNTERS, PY_RECEIVED, PY_SENT, JobInfo, attribute, fold_event_log  # noqa: E402

EVENT_LOG = os.path.join(os.path.dirname(__file__), "data", "small_eventlog.jsonl")


def test_fold_small_recorded_log():
    """The fixture is a trimmed Spark 4.1 event log of three jobs: a
    two-partition count under group pb-1, a three-partition GROUP BY under
    pb-2, and an ungrouped mapInPandas pass."""
    with open(EVENT_LOG) as fh:
        lines = fh.readlines()
    jobs = fold_event_log(lines)
    assert sorted(jobs) == [0, 1, 2]
    assert [jobs[i].group for i in range(3)] == ["pb-1", "pb-2", None]
    assert [jobs[i].counters["tasks"] for i in range(3)] == [3, 5, 2]
    assert [jobs[i].counters["shuffle_bytes"] for i in range(3)] == [118, 399, 0]
    assert jobs[2].python == {PY_SENT: 464.0, PY_RECEIVED: 432.0}
    assert jobs[0].python == {PY_SENT: 0.0, PY_RECEIVED: 0.0}
    # every task lands in exactly one job
    events = [json.loads(x) for x in lines]
    run_ms = sum(e["Task Metrics"]["Executor Run Time"] for e in events if e["Event"] == "SparkListenerTaskEnd")
    assert sum(j.counters["executor_run_s"] for j in jobs.values()) == pytest.approx(run_ms / 1e3)
    for j in jobs.values():
        assert j.end_ms >= j.submit_ms
        assert j.counters["jobs"] == 1


def _span(name, layer, sid, parent, start_s, end_s):
    from dc43_spark.governance.lineage import Span

    return Span(name, {"layer": layer, "sid": sid, "parent": parent},
                start_ns=int(start_s * 1e9), end_ns=int(end_s * 1e9))


def _job(group, start_s, end_s, tasks):
    job = JobInfo(group, start_s * 1e3, end_s * 1e3)
    job.counters.update(jobs=1, tasks=tasks)
    return job


def test_attribute_self_and_driver_time():
    """io span 0-10 s with an engine child 2-6 s. The child owns a job
    running 3-5 s; the parent owns one at 7-8 s and, by time, a job with no
    group at 8.5-9 s. A job outside the window is ignored; one inside the
    window but under no span is unattributed."""
    spans = [
        _span("op", "io", "pb-1", None, 0, 10),
        _span("compute_metrics", "engine", "pb-2", "pb-1", 2, 6),
    ]
    jobs = {
        0: _job("pb-2", 3, 5, 4),
        1: _job("pb-1", 7, 8, 2),
        2: _job(None, 8.5, 9, 1),
        3: _job("pb-1", 20, 21, 9),
        4: _job(None, 10.5, 10.8, 1),
    }
    totals, unattributed = attribute(spans, jobs, [(0, 11e9)])
    io_, engine = totals["modules"]["io"], totals["modules"]["engine"]
    assert engine["self_s"] == pytest.approx(4.0)
    assert engine["driver_s"] == pytest.approx(2.0)
    assert engine["jobs"] == 1 and engine["tasks"] == 4
    assert io_["self_s"] == pytest.approx(6.0)
    assert io_["driver_s"] == pytest.approx(4.5)
    assert io_["jobs"] == 2 and io_["tasks"] == 3
    assert unattributed == 1
    assert set(io_) == {"self_s", "driver_s", *COUNTERS}


def _frame_bytes(pdf: pd.DataFrame) -> bytes:
    import pyarrow as pa

    sink = io.BytesIO()
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue()


GENERATORS = {
    "orders_split": lambda seed: inputs.governed_slice(seed, 3, "orders", 500, 0.03, False)[0],
    "customer_split": lambda seed: inputs.governed_slice(seed, 3, "customer", 500, 0.02, False)[0],
    "events": lambda seed: inputs.governed_slice(seed, 3, "events", 500, 0.0, False)[0],
    "orders_drift": lambda seed: inputs.governed_slice(seed, 3, "orders", 500, 0.0, True)[0],
    "upsert_base": lambda seed: inputs.upsert_base(seed, 1000),
    "upsert_source": lambda seed: inputs.upsert_source(
        seed, 3, inputs.upsert_base(seed, 1000).k.to_numpy(), 1000, 100, 20, False
    ),
    "documents": lambda seed: inputs.documents(seed, 3, 200, 0.3, 0),
    "embeddings": lambda seed: inputs.embeddings(seed, 300),
    "ann_queries": lambda seed: inputs.ann_queries(seed, 3, inputs.embeddings(seed, 300), 16),
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_inputs_are_a_function_of_the_seed(name):
    make = GENERATORS[name]
    assert _frame_bytes(make(11)) == _frame_bytes(make(11))
    assert _frame_bytes(make(11)) != _frame_bytes(make(12))


def test_injected_violations_are_exact():
    pdf, injected = inputs.governed_slice(5, 1, "customer", 1000, 0.02, False)
    assert sum(injected.values()) == 20
    assert (pdf["c_mktsegment"] == "SPACE").sum() == injected["enum_c_mktsegment"]


def test_tail_is_a_percentile_or_the_slowest_shape_median():
    from perfbench.harness import OpRecord, tail

    def recs(pairs):
        return [OpRecord("op", "write", s, 0, False, shape=shape) for s, shape in pairs]

    # under twenty samples: shape a has one slow op but median 2.0; b has 3.1
    value, info = tail(recs([(1.0, "a"), (5.0, "a"), (2.0, "a"), (3.0, "b"), (3.2, "b")]))
    assert value == pytest.approx(3.1)
    assert info == {"tail_shape": "b", "shape_samples": 2, "samples": 5}
    # one op per shape: the slowest op
    assert tail(recs([(1.0, "a"), (4.0, "b"), (2.0, "c")]))[0] == 4.0
    # from twenty samples on: exactly ten samples beyond the tail
    value, info = tail(recs([(float(i), "x") for i in range(25)]))
    assert value == 14.0
    assert info == {"tail_percentile": 60.0, "samples": 25}


def _traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"], out.stdout[-2000:]
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", ["governed_batch", "table_upsert", "curation_ann"])
def test_two_traced_runs_count_the_same_work(workload):
    a, b = _traced(workload, 7), _traced(workload, 7)
    counted = [k for k in a if k.endswith((".jobs", ".tasks")) or k == "io.files_added_per_write"]
    assert len(counted) == 15
    assert {k: a[k] for k in counted} == {k: b[k] for k in counted}
    assert a["spark.unattributed_jobs"] == 0
