"""Governed-pipeline benchmark for dc43_spark.

    python3 perfbench/run.py --workload governed_batch --seed 1 --seconds 15 --trace 0

Runs one closed-loop workload (one client; each op waits for the previous
commit) against ``dc43_spark`` on ``local[nproc]`` from the root of a
checkout, checks every output after the timed region, and prints one JSON
object as the last line of stdout. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` runs the traced schedule and reports the per-layer
metrics (see perfbench/README.md).
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("governed_batch", "table_upsert", "curation_ann")


def _workload(name: str):
    if name == "governed_batch":
        from perfbench.wl_governed import GovernedBatch

        return GovernedBatch
    if name == "table_upsert":
        from perfbench.wl_upsert import TableUpsert

        return TableUpsert
    from perfbench.wl_curation import CurationAnn

    return CurationAnn


def timed_loop(wl, seconds: float, records: list) -> None:
    """Closed loop over whole steps: start another step while less than
    ``seconds`` of op time has passed. Every step runs the same op types,
    so a run's medians do not depend on where the clock ran out.
    ``schedule`` yields op factories; each op's inputs are built, untimed,
    just before it runs, from the state the previous op left."""
    from perfbench.harness import run_op

    step, spent = 0, 0.0
    while spent < seconds:
        for make in wl.schedule(step):
            rec = run_op(make(), traced=False, index=len(records))
            records.append(rec)
            spent += rec.seconds
        step += 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "dc43_spark", "__init__.py")):
        print(f"perfbench: no dc43_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    units = harness.declared_units(ROOT)
    work = harness.WorkDir(ROOT)
    session = None
    try:
        session = harness.start_session(ROOT, work.path, trace=bool(args.trace))
        wl = _workload(args.workload)(session, work, args.seed)
        t_session = time.perf_counter()
        wl.setup()
        t_setup = time.perf_counter()
        wl.warm_up()
        print(f"perfbench: session {t_session - PROCESS_START:.2f}s setup "
              f"{t_setup - t_session:.2f}s warm-up {time.perf_counter() - t_setup:.2f}s",
              file=sys.stderr)
        if args.trace:
            from perfbench import trace

            traced = trace.run_steps(session, wl)
            # the event log is complete only once the context stops
            event_dir = session.event_log_dir
            session.stop()
            session = None
            metrics = trace.per_layer(traced, wl, event_dir)
            result = harness.result(traced.records, traced.problems, metrics, {}, units)
        else:
            setup_s = time.perf_counter() - PROCESS_START
            records: list = []
            timed_loop(wl, args.seconds, records)
            t_check = time.perf_counter()
            problems = wl.check(records)
            print(f"perfbench: timed {sum(r.seconds for r in records):.2f}s "
                  f"checks {time.perf_counter() - t_check:.2f}s", file=sys.stderr)
            metrics, info = harness.end_to_end(records, setup_s)
            result = harness.result(records, problems, metrics, info, units)
    finally:
        if session is not None:
            session.stop()
        work.remove()
    print(json.dumps(result["detail"], sort_keys=True))
    print(json.dumps(result["summary"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
