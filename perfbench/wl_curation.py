"""``curation_ann``: curation passes over seeded document slices and query
batches against an int8 IVF index.

Why: it loads ``functions``, the Arrow/``mapInPandas`` boundary and numpy
BLAS inside Python workers, and touches no table format or governance.

Writes are curation passes: ``corpus_filter`` -> ``minhash_near_duplicates``
-> ``dedup_clusters``, keeping one canonical doc per cluster and writing the
canonical docs out. Reads are query batches through
``ivf_query_index_quantized``. Kept docs and clusters are checked against
the DuckDB oracle SQL of ``showcase_curation``; recall@k against exact
numpy top-k must reach ``RECALL_BOUND``.
"""

from __future__ import annotations

import numpy as np

from perfbench import inputs
from perfbench.harness import READ, WRITE, Op, OpResult

DOCS_PER_PASS = 300
CORPUS_ROWS = 2_000
N_CENTROIDS, NPROBE, TOP_K = 16, 4, 5
RECALL_BOUND = 0.8
# every step: a pass without and one with injected near duplicates, and a
# small and a large query batch
STEP = [("curation", 0.0), ("ann", 8), ("curation", 0.3), ("ann", 32)]
WARM_STEP = 125_000  # salts from 1_000_000, apart from the timed steps


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Indices of the k corpus rows of highest cosine per query."""
    c = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = q @ c.T
    return np.argsort(-sims, axis=1, kind="stable")[:, :k]


class CurationAnn:
    name = "curation_ann"

    def __init__(self, session, work, seed: int) -> None:
        self.spark = session.spark
        self.work = work
        self.seed = seed
        self.next_doc = 0

    def setup(self) -> None:
        """Writes the corpus and builds the int8 IVF index. The warm-up's
        curation passes need neither, so they start first, in a thread."""
        from concurrent.futures import ThreadPoolExecutor

        from dc43_spark.functions.similarity import ivf_write_index_quantized

        warm = list(zip(STEP, self.schedule(WARM_STEP)))
        self._warm_ann = [make for (kind, _), make in warm if kind == "ann"]
        passes = [make() for (kind, _), make in warm if kind == "curation"]
        self._pool = ThreadPoolExecutor(max_workers=1)
        self._warm_passes = self._pool.submit(lambda: [op.run() for op in passes])
        self.corpus_pdf = inputs.embeddings(self.seed, CORPUS_ROWS)
        self.corpus_np = np.stack(self.corpus_pdf["embedding"].to_numpy()).astype(np.float64)
        corpus_path = self.work.sub("ann", "corpus")
        self.spark.createDataFrame(self.corpus_pdf).write.parquet(corpus_path)
        self.corpus = self.spark.read.parquet(corpus_path)
        self.index = self.work.sub("ann", "index")
        ivf_write_index_quantized(self.corpus, self.index, n_centroids=N_CENTROIDS, seed=self.seed)

    def warm_up(self) -> None:
        """One untimed step, so every op shape a timed step runs (either
        duplicate share, either batch size) has run once: the query batches
        here, the curation passes started in ``setup``. Without it, on a
        4-core host, the first timed pass without duplicates cost up to
        1.4x the one with."""
        for make in self._warm_ann:
            make().run()
        self._warm_passes.result()
        self._pool.shutdown()

    def schedule(self, step: int) -> list:
        return [
            (lambda i=i, arg=arg: self._curation(step * 8 + i, arg)) if kind == "curation"
            else (lambda i=i, arg=arg: self._ann(step * 8 + i, arg))
            for i, (kind, arg) in enumerate(STEP)
        ]

    def _curation(self, salt: int, dup_share: float) -> Op:
        from pyspark.sql import functions as F

        from dc43_spark.functions.curation import corpus_filter
        from dc43_spark.functions.dedup import dedup_clusters, minhash_near_duplicates

        pdf = inputs.documents(self.seed, salt, DOCS_PER_PASS, dup_share, self.next_doc)
        self.next_doc += DOCS_PER_PASS
        docs = self.spark.createDataFrame(pdf)
        out = self.work.sub("curated", f"p{salt}")

        def run() -> OpResult:
            kept = corpus_filter(docs, passthrough=("text",)).filter("keep").select("doc_id", "text")
            pairs = minhash_near_duplicates(kept, threshold=0.8)
            clustered = dedup_clusters(kept, pairs)
            (
                clustered.filter(F.col("doc_id") == F.col("cluster_id"))
                .select("doc_id", "cluster_size", "text")
                .write.mode("overwrite").parquet(out)
            )
            return OpResult(len(pdf), ("curation", pdf, out))

        return Op("curation_pass", WRITE, "functions", run, shape=f"curation_pass/dup{dup_share}")

    def _ann(self, salt: int, batch: int) -> Op:
        from dc43_spark.functions.similarity import ivf_query_index_quantized

        qpdf = inputs.ann_queries(self.seed, salt, self.corpus_pdf, batch)
        queries = self.spark.createDataFrame(qpdf)

        def run() -> OpResult:
            rows = ivf_query_index_quantized(
                self.spark, self.index, queries, self.corpus, k=TOP_K, nprobe=NPROBE
            ).collect()
            return OpResult(len(qpdf), ("ann", qpdf, rows))

        return Op("ann_query", READ, "functions", run, shape=f"ann_query/{batch}")

    # -------------------------------------------------------------- checks

    def recall(self, qpdf, rows) -> float:
        want = exact_topk(self.corpus_np, np.stack(qpdf["embedding"].to_numpy()), TOP_K)
        ids = self.corpus_pdf["vec_id"].to_numpy()
        got: dict = {}
        for r in rows:
            got.setdefault(r["q_id"], set()).add(r["n_id"])
        hits = sum(
            len(got.get(q, set()) & set(ids[w].tolist()))
            for q, w in zip(qpdf["vec_id"].tolist(), want)
        )
        return hits / (len(qpdf) * TOP_K)

    def oracle(self, pdf) -> set:
        """(doc_id, cluster_size) of every canonical doc: kept docs and
        near-duplicate pairs from the showcase oracle SQL, clustered by
        connected components rooted at the smallest id (the oracle's
        recursive ``reach``, done here with union-find)."""
        import duckdb

        from dc43_spark.showcase_curation import _corpus_filter_sql
        from dc43_spark.showcase_scale import _near_dup_sql

        con = duckdb.connect()
        try:
            con.register("documents", pdf)
            con.execute(
                f"CREATE TABLE kept AS SELECT doc_id FROM ({_corpus_filter_sql()}) WHERE keep"
            )
            kept = [r[0] for r in con.execute("SELECT doc_id FROM kept").fetchall()]
            pairs = con.execute(
                _near_dup_sql(" WHERE doc_id IN (SELECT doc_id FROM kept)")
            ).fetchall()
        finally:
            con.close()
        root = {d: d for d in kept}

        def find(d):
            while root[d] != d:
                root[d] = root[root[d]]
                d = root[d]
            return d

        for a, b, _ in pairs:
            ra, rb = find(a), find(b)
            root[max(ra, rb)] = min(ra, rb)
        sizes: dict = {}
        for d in kept:
            sizes[find(d)] = sizes.get(find(d), 0) + 1
        return {(int(r), n) for r, n in sizes.items()}

    def check(self, records) -> list[tuple]:
        import pyarrow.parquet as pq

        problems = []
        self.recalls = []
        for rec in records:
            if not rec.ok:
                continue
            if rec.payload[0] == "ann":
                _, qpdf, rows = rec.payload
                r = self.recall(qpdf, rows)
                self.recalls.append(r)
                if r < RECALL_BOUND:
                    problems.append((rec.index, f"recall@{TOP_K} {r:.3f} < {RECALL_BOUND}"))
                continue
            _, pdf, out = rec.payload
            want = self.oracle(pdf)
            t = pq.read_table(out, columns=["doc_id", "cluster_size"]).to_pydict()
            got = {(int(d), int(n)) for d, n in zip(t["doc_id"], t["cluster_size"])}
            if got != want:
                problems.append((rec.index, f"{out}: {len(got ^ want)} canonical docs differ from the oracle"))
        return problems
