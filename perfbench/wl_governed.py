"""``governed_batch``: land seeded slices through ``write_with_contract``
with a valid/reject split, and read earlier slices back through
``read_with_contract`` plus ``GovernanceService.evaluate_dataset``.

Why: it is dc43's core path. It loads ``engine``, ``expectations``,
``contracts`` and ``governance`` and touches no table format, stream or
Python worker.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, replace

from perfbench import inputs
from perfbench.harness import READ, WRITE, Op, OpResult

# One step lands these four slices once and reads eight earlier outputs back:
# (dataset, rows, share of rows breaking one rule, schema drift). Violation
# rate 0 gives a one-output write, above 0 a split write; orders carry the
# 6-rule contract, customer the full-rule F2 contract (unique, regex,
# object-level query); the drift slice drops a required column and takes the
# draft path. Sizes follow sf0.1: a twelfth of its 150k orders, all of its
# 15k customers and all of its 100k events.
# On a 4-core host an 8k-row events write cost what a 2k-row orders write
# did (0.6-1.2 s), while a 100k-row one cost about twice that: the events
# slice is the scan-cost one.
STEP = [
    ("orders", 12_500, 0.03, False),
    ("customer", 15_000, 0.02, False),
    ("events", 100_000, 0.0, False),
    ("orders", 12_500, 0.0, True),
]
# the reads, twice per step: the latest landed output of each (dataset,
# part), so a read's size does not depend on the seed
READS = [("orders", "valid"), ("customer", "reject"), ("events", "all"), ("customer", "valid")]
SELECTOR = ">=0.2.0"
VERSIONS = ("0.1.0", "0.2.0", "1.0.0")
RESOLVED = "1.0.0"
SETUP_STEP, WARM_STEP = 100_000, 200_000


@dataclass
class Landed:
    """A landed output the read ops may pick: its path and what a read
    must observe there."""

    dataset: str
    part: str
    path: str
    rows: int
    violations: dict
    status: str


class GovernedBatch:
    name = "governed_batch"

    def __init__(self, session, work, seed: int) -> None:
        self.spark = session.spark
        self.work = work
        self.seed = seed
        self.landed: dict[tuple, Landed] = {}

    def setup(self) -> None:
        from dc43_spark import showcase
        from dc43_spark.contracts.store import FSContractStore
        from dc43_spark.governance.orchestrator import GovernanceService
        from dc43_spark.governance.stores import FSGovernanceStore

        self.store = FSContractStore(self.work.sub("contracts"))
        self.ids = {}
        for dataset, make in (
            ("orders", showcase.orders_contract),
            ("customer", showcase.customer_contract),
            ("events", showcase.events_contract),
        ):
            base = make()
            self.ids[dataset] = base.id
            for v in VERSIONS:
                self.store.put(replace(base, version=v))
        gov = FSGovernanceStore(self.work.sub("governance"))
        self.svc = GovernanceService(contract_store=self.store, store=gov)
        self.draft_svc = GovernanceService(
            contract_store=self.store, store=gov, draft_on_block=True
        )
        self._parallel([lambda i=i: self._land(SETUP_STEP + i, STEP[i]) for i in (0, 1)])

    def warm_up(self) -> None:
        """An untimed op of every shape a step runs, on top of the two split
        writes landed in set-up: a one-output write on the third contract
        and the draft path beside reads of the three set-up outputs a step
        reads, then a read of the one-output write's. A shape's first call
        costs more than its later ones, even after other shapes ran."""
        reads = [
            self._read_op(WARM_STEP + 50 + i, self.landed[r])
            for i, r in enumerate(READS) if r in self.landed
        ]
        self._parallel(
            [lambda i=i: self._land(WARM_STEP + i, STEP[i]) for i in (2, 3)]
            + [op.run for op in reads]
        )
        self._read_op(WARM_STEP + 60, self.landed[READS[2]]).run()

    @staticmethod
    def _parallel(calls) -> None:
        """Run independent set-up calls in threads: each spends most of its
        time waiting on Spark, so two overlap."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(calls)) as pool:
            for done in [pool.submit(c) for c in calls]:
                done.result()

    def _land(self, step: int, shape: tuple) -> None:
        op = self._write_op(step, shape)
        res = op.run()
        if op.after is not None:
            op.after(res)

    # ------------------------------------------------------------- ops

    def schedule(self, step: int) -> list:
        """Each slice is landed once, and each landed write is followed by
        two reads: the latest landed output of each (dataset, part), landed
        earlier in this step or, at first, in set-up and warm-up."""
        makers = []
        for i, shape in enumerate(STEP):
            makers.append(lambda i=i, shape=shape: self._write_op(step * 8 + i, shape))
            for j, read in ((i, READS[i]), (i + 4, READS[(i + 2) % 4])):
                makers.append(lambda j=j, read=read: self._read_op(step * 8 + j, self.landed[read]))
        return makers

    def _write_op(self, step: int, shape: tuple) -> Op:
        from dc43_spark.io.violation_strategy import SplitWriteViolationStrategy
        from dc43_spark.io.write import write_with_contract

        dataset, n, bad, drift = shape
        pdf, injected = inputs.governed_slice(self.seed, step, dataset, n, bad, drift)
        df = self.spark.createDataFrame(pdf)
        path = self.work.sub("land", dataset, f"s{step}")
        cid = self.ids[dataset]

        if drift:
            def run() -> OpResult:
                contract = self.store.resolve(cid, SELECTOR)
                out = self.draft_svc.evaluate_dataset(
                    df, contract, dataset_id=f"{dataset}/s{step}", operation="write"
                )
                draft = out.draft.contract.version if out.draft else None
                return OpResult(n, (shape, path, injected, out.validation.status, draft))

            return Op("governed_write", WRITE, "governance", run, shape=f"{dataset}/drift")

        def run() -> OpResult:
            contract = self.store.resolve(cid, SELECTOR)
            res = write_with_contract(
                df, contract, path=path, format="parquet", mode="overwrite",
                strategy=SplitWriteViolationStrategy(), enforce=False,
            )
            v = res.validation
            return OpResult(n, (shape, path, injected, v.status, dict(v.metrics)))

        def after(res: OpResult) -> None:
            n_bad = sum(injected.values())
            if n_bad:
                self._landed(dataset, "valid", os.path.join(path, "valid"), n - n_bad, {}, "ok")
                self._landed(dataset, "reject", os.path.join(path, "reject"), n_bad, injected, "warn")
            else:
                self._landed(dataset, "all", path, n, {}, "ok")

        return Op("governed_write", WRITE, "io", run, after, shape=dataset)

    def _landed(self, dataset, part, *rest) -> None:
        self.landed[(dataset, part)] = Landed(dataset, part, *rest)

    def _read_op(self, step: int, target: Landed) -> Op:
        from dc43_spark.io.read import read_with_contract

        cid = self.ids[target.dataset]

        def run() -> OpResult:
            contract = self.store.resolve(cid, SELECTOR)
            df, _ = read_with_contract(
                self.spark, contract, path=target.path, format="parquet", metrics=False
            )
            out = self.svc.evaluate_dataset(
                df, contract, dataset_id=target.path, dataset_version=str(step),
                operation="read",
            )
            v = out.validation
            return OpResult(int(v.metrics.get("row_count", 0)),
                            (target, v.status, dict(v.metrics), out.contract_version))

        return Op("governed_read", READ, "io", run, shape=f"{target.dataset}/{target.part}")

    # ----------------------------------------------------------- checks

    def check(self, records) -> list[tuple[int, str]]:
        """(record index, problem) for every op whose output is wrong."""
        problems = []
        for rec in records:
            if not rec.ok:
                continue
            if rec.type == "governed_write":
                msg = self._check_write(*rec.payload)
            else:
                msg = self._check_read(rec.payload)
            if msg:
                problems.append((rec.index, msg))
        return problems

    def _check_write(self, shape, path, injected, status, extra) -> str | None:
        dataset, n, _, drift = shape
        n_bad = sum(injected.values())
        if drift:
            draft = extra
            if status != "block" or draft is None:
                return f"drift slice {path}: status {status}, draft {draft}"
            if draft not in self.store.versions(self.ids[dataset]):
                return f"draft {draft} missing from the contract store"
            return None
        metrics = extra
        want = "block" if n_bad else "ok"
        if status != want:
            return f"{path}: write verdict {status}, expected {want}"
        for key, count in injected.items():
            if int(metrics.get(f"violations.{key}", 0)) != count:
                return f"{path}: violations.{key}={metrics.get(f'violations.{key}')} expected {count}"
        read = self.spark.read.parquet
        if n_bad:
            valid, reject = read(os.path.join(path, "valid")).count(), read(os.path.join(path, "reject")).count()
        else:
            valid, reject = read(path).count(), 0
        if valid + reject != n or reject != n_bad:
            return f"{path}: valid {valid} + reject {reject}, expected {n - n_bad} + {n_bad}"
        return None

    def _check_read(self, payload) -> str | None:
        target, status, metrics, version = payload
        if version != RESOLVED:
            return f"read of {target.path} resolved {version}, expected {RESOLVED}"
        if status != target.status:
            return f"read of {target.path}: verdict {status}, expected {target.status}"
        if int(metrics.get("row_count", -1)) != target.rows:
            return f"read of {target.path}: {metrics.get('row_count')} rows, expected {target.rows}"
        for key, value in metrics.items():
            if key.startswith("violations."):
                want = target.violations.get(key[len("violations."):], 0)
                if int(value or 0) != want:
                    return f"read of {target.path}: {key}={value}, expected {want}"
        return None
