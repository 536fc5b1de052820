"""``table_upsert``: writes beside reads on one keyed snaplog table (change
feed on) and one jar-less Delta table (deletion vectors on).

Why: it loads ``io`` (snaplog, jar-less Delta, deletion vectors, IVM) and
``streaming``, and grows both logs through their checkpoint intervals. It
does no governance profiling and runs almost no Python UDFs.

Every mutation is replayed on a pure-Python model of its table; after the
timed region both tables, every time-travel and ``table_changes`` result,
the IVM view and the stream sink are compared with the model.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

from perfbench import inputs
from perfbench.harness import READ, WRITE, Op, OpResult, charge

# sf0.1 scale: ~1.5k-row merge sources into a 75k-row table (half of
# sf0.1's 150k orders).
BASE_ROWS = 75_000
BLOCK = BASE_ROWS // 8  # keys per file of the initial 8-file layout
MERGE_MATCH, MERGE_NEW = 1_200, 300
APPEND_ROWS = 1_500
# a matched source row whose amount is a multiple of 10 deletes its target
DELETE_PRED = "s.amt % 10 = 0"

# One step: (op type, table, key shape). Every merge runs on both tables
# with both key shapes: hot keys are a contiguous run inside one initial
# file (few files touched), scattered keys lie all over the table (every
# file touched) - the copy-on-write versus deletion-vector trade. The
# predicate delete removes one key residue class, present in every file,
# from both tables; appends go to both tables. Of the eleven reads, the six
# table_changes reads sit between the fast snaplog and the slower Delta
# time-travel reads, so the read median, the sixth, is the fourth of them:
# a slow or fast table_changes read does not move it into another op type.
STEP = [
    ("merge_snaplog", "snaplog", "hot"),
    ("table_changes", "snaplog", None),
    ("time_travel_read", "snaplog", None),
    ("merge_delta", "delta", "hot"),
    ("time_travel_read", "delta", None),
    ("delete", "snaplog", None),
    ("table_changes", "snaplog", None),
    ("delete", "delta", None),
    ("append", "snaplog", None),
    ("table_changes", "snaplog", None),
    ("append", "delta", None),
    ("table_changes", "snaplog", None),
    ("merge_snaplog", "snaplog", "scattered"),
    ("table_changes", "snaplog", None),
    ("time_travel_read", "snaplog", None),
    ("merge_delta", "delta", "scattered"),
    ("time_travel_read", "delta", None),
    ("table_changes", "snaplog", None),
    ("ivm_refresh", "snaplog", None),
    ("stream_pass", "snaplog", None),
]
WARM_SALT = 1_000_000
CHECK_MOD = 1_000_003


def checksum(rows: dict) -> tuple:
    """(count, sum k, sum amt, sum (31k + amt) mod p) — what a read's
    aggregate must return for this table state."""
    if not rows:
        return (0, 0, 0, 0)
    k = np.fromiter(rows.keys(), dtype=np.int64, count=len(rows))
    amt = np.fromiter((v[1] for v in rows.values()), dtype=np.int64, count=len(rows))
    return (len(rows), int(k.sum()), int(amt.sum()), int(((31 * k + amt) % CHECK_MOD).sum()))


class TableModel:
    """Pure-Python model of one keyed table: rows by key, and per committed
    version the table checksum and the change rows by type."""

    def __init__(self, base) -> None:
        self.rows = {
            int(k): (g, int(a), int(r))
            for k, g, a, r in zip(base.k, base.grp, base.amt, base.rev)
        }
        self.state = {0: checksum(self.rows)}
        self.changes = {0: self._tally([("insert", a) for _, a, _ in self.rows.values()])}

    @staticmethod
    def _tally(events) -> dict:
        out: dict = {}
        for kind, amt in events:
            n, s = out.get(kind, (0, 0))
            out[kind] = (n + 1, s + amt)
        return out

    def merge(self, src) -> list:
        ev = []
        for k, g, a, r in zip(src.k, src.grp, src.amt, src.rev):
            k, a, r = int(k), int(a), int(r)
            old = self.rows.get(k)
            if old is None:
                self.rows[k] = (g, a, r)
                ev.append(("insert", a))
            elif a % 10 == 0:
                del self.rows[k]
                ev.append(("delete", old[1]))
            else:
                self.rows[k] = (g, a, r)
                ev += [("update_preimage", old[1]), ("update_postimage", a)]
        return ev

    def append(self, src) -> list:
        for k, g, a, r in zip(src.k, src.grp, src.amt, src.rev):
            self.rows[int(k)] = (g, int(a), int(r))
        return [("insert", int(a)) for a in src.amt]

    def delete(self, keep) -> list:
        gone = [k for k in self.rows if not keep(k)]
        return [("delete", self.rows.pop(k)[1]) for k in gone]

    def commit(self, version, events) -> None:
        self.state[version] = checksum(self.rows)
        self.changes[version] = self._tally(events)

    def changes_between(self, lo: int, hi: int) -> dict:
        out: dict = {}
        for v in range(lo, hi + 1):
            for kind, (n, s) in self.changes.get(v, {}).items():
                n0, s0 = out.get(kind, (0, 0))
                out[kind] = (n0 + n, s0 + s)
        return out


def _agg_checksum(df) -> tuple:
    from pyspark.sql import functions as F

    r = df.agg(
        F.count("*"), F.sum("k"), F.sum("amt"),
        F.sum((F.col("k") * 31 + F.col("amt")) % CHECK_MOD),
    ).collect()[0]
    return tuple(int(x or 0) for x in r)


def _agg_changes(df) -> dict:
    from pyspark.sql import functions as F

    rows = df.groupBy("_change_type").agg(F.count("*"), F.sum("amt")).collect()
    return {r[0]: (int(r[1]), int(r[2] or 0)) for r in rows}


class TableUpsert:
    name = "table_upsert"

    def __init__(self, session, work, seed: int) -> None:
        self.spark = session.spark
        self.work = work
        self.seed = seed

    def setup(self) -> None:
        """Both tables from one seeded base, written side by side."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import functions as F

        from dc43_spark.contracts.model import Contract, SchemaObject, SchemaProperty
        from dc43_spark.io.delta_log import delta_write
        from dc43_spark.io.snaplog import SnaplogTable

        self.contract = Contract(
            id="bench.upsert", version="1.0.0",
            schema_objects=[SchemaObject(name="kv", properties=[
                SchemaProperty("k", "bigint", required=True),
                SchemaProperty("grp", "string", required=True),
                SchemaProperty("amt", "bigint", required=True),
                SchemaProperty("rev", "bigint", required=True),
            ])],
        )
        base = inputs.upsert_base(self.seed, BASE_ROWS)
        self.snap_path = self.work.sub("tables", "snaplog")
        self.delta_path = self.work.sub("tables", "delta")
        self.view_path = self.work.sub("tables", "view")
        self.sink = self.work.sub("stream", "sink")
        self.cp = self.work.sub("stream", "cp")
        # one file per BLOCK of keys: hot runs stay inside one file
        df = (
            self.spark.createDataFrame(base)
            .repartitionByRange(8, F.floor(F.col("k") / BLOCK))
            .sortWithinPartitions("k")
        )
        self.snap = SnaplogTable(self.spark, self.snap_path, change_feed=True)
        with ThreadPoolExecutor(max_workers=2) as pool:
            for done in [
                pool.submit(self.snap.write, df, mode="overwrite"),
                pool.submit(
                    delta_write, self.spark, df, self.delta_path, mode="overwrite",
                    configuration={"delta.enableDeletionVectors": "true"},
                ),
            ]:
                done.result()
        self.view = SnaplogTable(self.spark, self.view_path)
        self.model = {"snaplog": TableModel(base), "delta": TableModel(base)}
        self.next_key = {"snaplog": BASE_ROWS, "delta": BASE_ROWS}
        # the stream serves commits after the initial load: its first pass
        # (in the warm-up) starts the query lifecycle, not a bulk backfill
        self.stream_from = 1
        self.stream_heads: list[int] = []

    def warm_up(self) -> None:
        """Every op type once on each table it runs on, untimed. The IVM
        refresh builds the view; the stream pass starts the query.

        The two tables are independent, so their ops warm in two threads
        while the first streaming query - which spends seconds starting up
        - runs asynchronously in Spark."""
        from concurrent.futures import ThreadPoolExecutor

        stream = self._stream_start()
        by_fmt: dict = {"snaplog": [], "delta": []}
        for i, (otype, fmt, shape) in enumerate(STEP):
            if otype != "stream_pass" and otype not in [e[0] for _, e in by_fmt[fmt]]:
                by_fmt[fmt].append((WARM_SALT + i, (otype, fmt, shape)))
        # the delete first and the reads last: the warm time-travel read
        # then hits the version where the delete put a deletion vector on
        # every file, as the timed time-travel reads do
        for entries in by_fmt.values():
            entries.sort(key=lambda e: (e[1][0] in ("time_travel_read", "table_changes"),
                                        e[1][0] != "delete"))

        def warm(entries) -> None:
            for salt, entry in entries:
                op = self._op(salt, *entry)
                res = op.run()
                if op.after is not None:
                    op.after(res)

        with ThreadPoolExecutor(max_workers=2) as pool:
            for done in [pool.submit(warm, entries) for entries in by_fmt.values()]:
                done.result()
        self._stream_finish(*stream)

    def schedule(self, step: int) -> list:
        return [
            lambda i=i, entry=entry: self._op(step * len(STEP) + i, *entry)
            for i, entry in enumerate(STEP)
        ]

    def _op(self, salt: int, otype: str, fmt: str, shape) -> Op:
        """The op of one step entry; ``salt`` seeds its data."""
        op = self._entry_op(salt, otype, fmt, shape)
        op.shape = "/".join(x for x in (otype, fmt, shape) if x)
        return op

    def _entry_op(self, salt: int, otype: str, fmt: str, shape) -> Op:
        hot = shape == "hot"
        if otype.startswith("merge"):
            return self._merge(salt, otype, fmt, hot)
        if otype == "append":
            return self._append(salt, fmt)
        if otype == "delete":
            return self._delete(salt, fmt)
        if otype == "ivm_refresh":
            return self._ivm()
        if otype == "time_travel_read":
            return self._time_travel(fmt)
        if otype == "table_changes":
            return self._changes()
        return self._stream()

    # -------------------------------------------------------------- writes

    def _version(self, fmt: str) -> int:
        from dc43_spark.io.delta_log import DeltaLogTable

        if fmt == "snaplog":
            return self.snap.version()
        return DeltaLogTable(self.spark, self.delta_path).version()

    def _committed(self, fmt: str, events) -> None:
        self.model[fmt].commit(self._version(fmt), events)

    def _merge(self, salt: int, wtype: str, fmt: str, hot: bool) -> Op:
        from dc43_spark.io.merge import merge_with_contract

        model = self.model[fmt]
        src = inputs.upsert_source(
            self.seed, salt, np.fromiter(model.rows.keys(), dtype=np.int64),
            self.next_key[fmt], MERGE_MATCH, MERGE_NEW, hot, BLOCK,
        )
        self.next_key[fmt] += MERGE_NEW
        df = self.spark.createDataFrame(src)
        path = self.snap_path if fmt == "snaplog" else self.delta_path

        def run() -> OpResult:
            merge_with_contract(
                self.spark, df, self.contract, keys=["k"], path=path, format=fmt,
                delete_predicate=DELETE_PRED,
            )
            return OpResult(len(src), src)

        return Op(wtype, WRITE, "io", run,
                  lambda res: self._committed(fmt, model.merge(res.payload)), target=fmt)

    def _append(self, salt: int, fmt: str) -> Op:
        from dc43_spark.io.delta_log import delta_write

        src = inputs.upsert_source(
            self.seed, salt, np.empty(0, dtype=np.int64), self.next_key[fmt], 0, APPEND_ROWS, False
        )
        self.next_key[fmt] += APPEND_ROWS
        df = self.spark.createDataFrame(src)

        def run() -> OpResult:
            if fmt == "snaplog":
                self.snap.write(df, mode="append")
            else:
                delta_write(self.spark, df, self.delta_path, mode="append")
            return OpResult(len(src), src)

        return Op("append", WRITE, "io", run,
                  lambda res: self._committed(fmt, self.model[fmt].append(res.payload)), target=fmt)

    def _delete(self, salt: int, fmt: str) -> Op:
        """Deletes one key residue class: a few keys from every file."""
        from dc43_spark.io.delta_dml import delta_delete

        model = self.model[fmt]
        r = int(inputs.rng(self.seed, 9, salt).integers(0, 97))
        pred = f"k % 97 = {r}"

        def keep(k: int) -> bool:
            return k % 97 != r

        n_gone = sum(1 for k in model.rows if not keep(k))

        def run() -> OpResult:
            if fmt == "snaplog":
                self.snap.delete(where=pred)
            else:
                delta_delete(self.spark, self.delta_path, pred)
            return OpResult(n_gone)

        return Op("delete", WRITE, "io", run,
                  lambda res: self._committed(fmt, model.delete(keep)), target=fmt)

    def _ivm(self) -> Op:
        from dc43_spark.io.ivm import refresh_sum_view

        def run() -> OpResult:
            st = refresh_sum_view(self.view, self.snap, keys=["grp"], sums={"amt_sum": "amt"})
            return OpResult(st.groups_changed, st.strategy)

        return Op("ivm_refresh", WRITE, "io", run, target="view")

    # --------------------------------------------------------------- reads

    def _time_travel(self, fmt: str) -> Op:
        """Reads the version two commits back: the seed picks the data, the
        distance stays fixed so a read costs the same on every seed."""
        from dc43_spark.io.delta_log import DeltaLogTable

        versions = sorted(self.model[fmt].state)
        v = versions[max(0, len(versions) - 3)]

        def run() -> OpResult:
            if fmt == "snaplog":
                df = self.snap.read(version_as_of=v)
            else:
                df = DeltaLogTable(self.spark, self.delta_path).read(version_as_of=v)
            got = _agg_checksum(df)
            return OpResult(got[0], ("time_travel", fmt, v, got))

        return Op("time_travel_read", READ, "io", run)

    def _changes(self) -> Op:
        """The last two commits' changes."""
        versions = sorted(self.model["snaplog"].changes)
        hi = versions[-1]
        lo = max(1, hi - 1)

        def run() -> OpResult:
            got = _agg_changes(self.snap.table_changes(lo, hi))
            return OpResult(sum(n for n, _ in got.values()), ("changes", lo, hi, got))

        return Op("table_changes", READ, "io", run)

    def _stream_start(self):
        from dc43_spark.io.read import read_stream_with_contract
        from dc43_spark.streaming.observer import observe_stream

        head = self.snap.version()
        df, _ = read_stream_with_contract(
            self.spark, self.contract, path=self.snap_path, format="snaplog",
            options={"readChangeFeed": "true", "startingVersion": str(self.stream_from)},
            keep_extra_columns=True,
        )
        q = (
            observe_stream(df, self.contract)
            .writeStream.format("parquet")
            .option("path", self.sink)
            .option("checkpointLocation", self.cp)
            .trigger(availableNow=True)
            .start()
        )
        return q, head, time.time()

    def _stream_finish(self, q, head: int, started: float) -> OpResult:
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = list(q.recentProgress)
        self.stream_heads.append(head)
        rows = sum(int(p.get("numInputRows", 0)) for p in progress)
        return OpResult(rows, ("stream", head, started, progress))

    def _stream(self) -> Op:
        return Op("stream_pass", READ, "streaming",
                  lambda: self._stream_finish(*self._stream_start()), target="sink")

    # -------------------------------------------------------------- checks

    def check(self, records) -> list[tuple]:
        from pyspark.sql import functions as F

        from dc43_spark.io.delta_conformance import DeltaConformanceError, validate_log_dir
        from dc43_spark.io.delta_log import DeltaLogTable
        from dc43_spark.io.ivm import refresh_sum_view, sum_view_select

        problems = []
        for rec in records:
            if not rec.ok or not isinstance(rec.payload, tuple):
                continue
            kind = rec.payload[0]
            if kind == "time_travel":
                _, fmt, v, got = rec.payload
                want = self.model[fmt].state[v]
                if got != want:
                    problems.append((rec.index, f"{fmt}@v{v}: {got} != model {want}"))
            elif kind == "changes":
                _, lo, hi, got = rec.payload
                want = self.model["snaplog"].changes_between(lo, hi)
                if got != want:
                    problems.append((rec.index, f"table_changes({lo},{hi}): {got} != {want}"))
        for fmt, path in (("snaplog", self.snap_path), ("delta", self.delta_path)):
            df = self.snap.read() if fmt == "snaplog" else DeltaLogTable(self.spark, path).read()
            got, want = _agg_checksum(df), checksum(self.model[fmt].rows)
            if got != want:
                problems += charge(records, f"{fmt} head {got} != model {want}",
                                   lambda r, fmt=fmt: r.kind == WRITE and r.target == fmt)
        refresh_sum_view(self.view, self.snap, keys=["grp"], sums={"amt_sum": "amt"})
        view = {
            r["grp"]: (int(r["amt_sum"]), int(r["n_rows"]))
            for r in sum_view_select(self.view, ["amt_sum"]).collect()
        }
        fresh = {
            r[0]: (int(r[1]), int(r[2]))
            for r in self.snap.read().groupBy("grp").agg(F.sum("amt"), F.count("*")).collect()
        }
        if view != fresh:
            problems += charge(records, "IVM view differs from a fresh GROUP BY",
                               lambda r: r.type == "ivm_refresh")
        if self.stream_heads:
            sink = self.spark.read.parquet(self.sink)
            last = self.stream_heads[-1]
            got = {
                (int(r[0]), r[1]): (int(r[2]), int(r[3] or 0))
                for r in sink.groupBy("_commit_version", "_change_type")
                .agg(F.count("*"), F.sum("amt")).collect()
            }
            want = {
                (v, kind): ns
                for v in range(self.stream_from, last + 1)
                for kind, ns in self.model["snaplog"].changes.get(v, {}).items()
            }
            if got != want:
                problems += charge(records, f"stream sink differs from the change log up to v{last}",
                                   lambda r: r.type == "stream_pass")
        try:
            bad_log = "delta log has no commits" if validate_log_dir(self.delta_path)["commits"] == 0 else None
        except DeltaConformanceError as exc:
            bad_log = f"delta log not conformant: {exc}"
        if bad_log:
            problems += charge(records, bad_log, lambda r: r.kind == WRITE and r.target == "delta")
        return problems

    # ------------------------------------------------------- table format

    def versions(self) -> dict:
        return {fmt: self._version(fmt) for fmt in self.model}

    def _files(self, fmt: str, version: int) -> dict:
        """path -> (bytes, deletion-vector key, deletion-vector bytes) of the
        live files at ``version``."""
        from dc43_spark.io.delta_log import DeltaLogTable

        if fmt == "snaplog":
            snap = self.snap.snapshot(version)
            dvs = getattr(snap, "dvs", None) or {}
            return {
                f.path: (f.bytes, repr(dvs[f.path]) if f.path in dvs else None, 0)
                for f in snap.files
            }
        snap = DeltaLogTable(self.spark, self.delta_path).snapshot(version)
        return {
            f.path: (
                f.size,
                json.dumps(f.dv, sort_keys=True) if f.dv else None,
                int(f.dv.get("sizeInBytes", 0)) if f.dv else 0,
            )
            for f in snap.files
        }

    def table_stats(self, write_versions) -> dict:
        """Files added, removed and given a new deletion vector per write op,
        bytes written per source byte, read from the table logs."""
        import pyarrow as pa

        added = removed = dv = 0
        written = source = 0
        writes = 0
        for rec, before, after in write_versions:
            writes += 1
            for fmt in self.model:
                if after[fmt] == before[fmt]:
                    continue
                a, b = self._files(fmt, before[fmt]), self._files(fmt, after[fmt])
                new = b.keys() - a.keys()
                added += len(new)
                removed += len(a.keys() - b.keys())
                written += sum(b[p][0] for p in new)
                for p, (_, dv_key, dv_bytes) in b.items():
                    if dv_key is not None and (p not in a or a[p][1] != dv_key):
                        dv += 1
                        written += dv_bytes
            if rec.ok and rec.type in ("merge_snaplog", "merge_delta", "append"):
                source += pa.Table.from_pandas(rec.payload, preserve_index=False).nbytes
        n = max(1, writes)
        logs = [os.path.join(self.snap_path, "_snaplog"), os.path.join(self.delta_path, "_delta_log")]
        checkpoints = sum(
            1 for d in logs if os.path.isdir(d) for name in os.listdir(d) if ".checkpoint." in name
        )
        return {
            "files_added_per_write": added / n,
            "files_removed_per_write": removed / n,
            "dv_files_per_write": dv / n,
            "bytes_written_per_source_byte": written / source if source else 0.0,
            "table_versions": float(sum(self.versions().values()) + 2),
            "checkpoints_written": float(checkpoints),
        }
