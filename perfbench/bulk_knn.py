"""bulk_knn: batches of 64 exact cosine ``nearest`` requests through
``query.query_batch`` over a generated corpus that is read from its parquet
files on every batch (no Spark cache).

The corpus is large enough (> ``query.FUSE_MIN_BYTES``) for the batch to
fuse into one shared scan, so the scan, the Arrow scoring kernel
(``operators.knn._matmul_knn``) and the final top-k window do nearly all
the work; the planner runs once per 64 queries.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa

from perfbench import datagen
from perfbench.common import Op, cores, median, ratio, tail
from perfbench.oracle import Mirror, hits_match, recall

N_POINTS = 160_000
DIM = 64
COMPONENTS = 64
SPREAD = 0.6
BATCH = 64
K = 10


class BulkKnn:
    name = "bulk_knn"
    #: nominal seconds per cycle (one batch) on a 4-core box: a run of
    #: ``--seconds`` measures round(seconds / cycle_seconds) cycles
    cycle_seconds = 1.0
    #: the first batch pays Python-worker start-up and most of the JIT
    warmup_cycles = 1

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.mix = datagen.Mixture(seed, DIM, COMPONENTS, SPREAD)
        self.qrng = np.random.default_rng([seed, 2])
        self.points = None
        self.mirror: Mirror | None = None

    def setup(self) -> tuple[float, float]:
        """Generate and write the corpus, then open it: (datagen s, load s)."""
        t0 = time.perf_counter()
        rng = np.random.default_rng([self.seed, 1])
        vecs = self.mix.sample(rng, N_POINTS)
        ids = rng.permutation(N_POINTS).astype(np.int64)
        path = os.path.join(self.work, "corpus")
        datagen.write_files(
            pa.table({"id": ids, "vec": datagen.list_array(vecs)}),
            path, files=2 * cores())
        t1 = time.perf_counter()
        self.points = self.spark.read.parquet(path)
        n = self.points.count()
        t2 = time.perf_counter()
        if n != N_POINTS:
            raise RuntimeError(f"corpus has {n} rows, expected {N_POINTS}")
        self.mirror = Mirror(ids, vecs)
        return t1 - t0, t2 - t1

    def cycle(self) -> list[Op]:
        from qdrant_spark import query

        queries = self.mix.sample(self.qrng, BATCH)
        reqs = [{"query": {"nearest": [float(x) for x in q]}, "limit": K}
                for q in queries]

        def call():
            return query.query_batch(self.points, reqs, id_col="id",
                                     vec_col="vec", metric="cosine").collect()

        def check(rows):
            by_req: dict[int, list] = {}
            for r in rows:
                by_req.setdefault(r["request_idx"], []).append(
                    (r["id"], r["score"]))
            failures, recalls = [], []
            for i, (exp_ids, exp_s) in enumerate(self.mirror.topk(queries, K)):
                hits = sorted(by_req.get(i, []), key=lambda h: (-h[1], h[0]))
                got_ids = [h[0] for h in hits]
                recalls.append(recall(got_ids, exp_ids))
                if not hits_match(got_ids, [h[1] for h in hits], exp_ids, exp_s):
                    failures.append(f"bulk_knn: request {i} differs from oracle")
            return failures, float(np.mean(recalls))

        return [Op("query_batch", call, check, units=BATCH, queries=BATCH)]

    @staticmethod
    def named(recs) -> list[tuple[str, float, str]]:
        ok = [r for r in recs if not r.failures]
        secs = [r.seconds for r in ok]
        return [
            ("knn_qps", ratio(sum(r.units for r in ok), sum(secs)), "q/s"),
            ("knn_batch_p50_s", median(secs), "s"),
            tail("knn_batch_tail_s", secs),
        ]
