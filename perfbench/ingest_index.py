"""Streaming ingest, index rebuild and ANN queries: one round per
``client_mix`` cycle, on a points table of its own.

Each round commits a micro-batch of upserts (75% new ids, 25% updated
vectors) through ``streaming.ingest.ParquetPointsSink.apply_batch`` with
``id_buckets``, rebuilds the IVF index on the new snapshot
(``operators.ann.build_ivf`` with ``fit_fraction``, then ``persist_ivf``)
and runs a batch of ANN queries through ``query.query_batch(...,
ivf_index=...)``. These are the only requests in the benchmark where
streaming writes, index build and the cluster-probe path do the work.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa

from perfbench import datagen
from perfbench.common import Op, cores, mean, median, ratio
from perfbench.oracle import Mirror, recall

BASE_POINTS = 10_000
BATCH = 1_000
NEW_SHARE = 0.75
DIM = 64
COMPONENTS = 16
SPREAD = 0.6
N_CLUSTERS = 16
FIT_FRACTION = 0.2
ID_BUCKETS = 16
QUERIES = 4
K = 10
#: mean ANN recall@10 against the exact top-k of the same snapshot below
#: which a round counts as failed
RECALL_FLOOR = 0.8

BUCKET_PREFIX = "__ibucket="


def _table(ids, vecs, version) -> pa.Table:
    return pa.table({"id": ids,
                     "version": np.full(len(ids), version, dtype=np.int64),
                     "vec": datagen.list_array(vecs)})


def new_files(snapshot: str) -> tuple[int, int, int]:
    """(bytes, files, bucket dirs) written by the commit that produced
    ``snapshot``: files carried over from the previous snapshot are hard
    links (link count > 1), freshly written ones are not."""
    nbytes = nfiles = 0
    dirty = set()
    for dirpath, _dirs, files in os.walk(snapshot):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            st = os.stat(os.path.join(dirpath, f))
            if st.st_nlink == 1:
                nbytes += st.st_size
                nfiles += 1
                dirty.add(os.path.relpath(dirpath, snapshot).split(os.sep)[0])
    return nbytes, nfiles, sum(d.startswith(BUCKET_PREFIX) for d in dirty)


class IngestIndex:
    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.mix = datagen.Mixture(seed, DIM, COMPONENTS, SPREAD)
        self.rng = np.random.default_rng([seed, 3])
        self.tracer = tracer
        self.sink = None
        self.mirror: Mirror | None = None
        self.round = 0
        self.next_id = BASE_POINTS

    def setup(self) -> tuple[float, float]:
        """Generate the base points and commit them as the sink's first
        snapshot: (datagen s, load s)."""
        from qdrant_spark.streaming.ingest import ParquetPointsSink

        t0 = time.perf_counter()
        rng = np.random.default_rng([self.seed, 1])
        vecs = self.mix.sample(rng, BASE_POINTS)
        ids = np.arange(BASE_POINTS, dtype=np.int64)
        base = os.path.join(self.work, "base")
        datagen.write_files(_table(ids, vecs, 0), base, files=2 * cores())
        t1 = time.perf_counter()
        sink = ParquetPointsSink(self.spark, os.path.join(self.work, "table"),
                                 id_col="id", version_col="version",
                                 id_buckets=ID_BUCKETS)
        sink.apply_batch(self.spark.read.parquet(base), 0)
        n = sink.read().count()
        t2 = time.perf_counter()
        if n != BASE_POINTS:
            raise RuntimeError(f"snapshot has {n} rows, expected {BASE_POINTS}")
        shutil.rmtree(base, ignore_errors=True)
        self.sink = sink
        self.mirror = Mirror(ids, vecs)
        return t1 - t0, t2 - t1

    def cycle(self) -> list[Op]:
        from pyspark.sql import functions as F

        from qdrant_spark import query
        from qdrant_spark.operators import ann

        self.round += 1
        r, rng = self.round, self.rng
        n_new = int(BATCH * NEW_SHARE)
        ids = np.concatenate([
            np.arange(self.next_id, self.next_id + n_new, dtype=np.int64),
            rng.choice(self.next_id, BATCH - n_new, replace=False)])
        self.next_id += n_new
        vecs = self.mix.sample(rng, BATCH)
        batch_path = os.path.join(self.work, f"batch-{r}")
        batch_bytes = datagen.write_files(_table(ids, vecs, r), batch_path,
                                          files=cores())
        queries = self.mix.sample(rng, QUERIES)
        reqs = [{"query": {"nearest": [float(x) for x in q]}, "limit": K}
                for q in queries]
        index_path = os.path.join(self.work, f"ivf-{r}")
        tracer = self.tracer
        stats: dict[str, float] = {}

        def call():
            t0 = time.perf_counter()
            with tracer.span("ingest.apply_batch", job_group=True):
                self.sink.apply_batch(self.spark.read.parquet(batch_path), r)
            t1 = time.perf_counter()
            snap = self.sink.read()
            with tracer.span("ann.fit", job_group=True):
                index = ann.build_ivf(snap, n_clusters=N_CLUSTERS,
                                      fit_fraction=FIT_FRACTION,
                                      seed=self.seed)
            t2 = time.perf_counter()
            with tracer.span("ann.persist", job_group=True):
                index = ann.persist_ivf(index, index_path)
            t3 = time.perf_counter()
            with tracer.span("ann.query", job_group=True):
                rows = query.query_batch(snap, reqs, id_col="id",
                                         vec_col="vec", metric="cosine",
                                         ivf_index=index).collect()
            t4 = time.perf_counter()
            stats.update(apply_s=t1 - t0, fit_s=t2 - t1, persist_s=t3 - t2,
                         ann_s=t4 - t3)
            return snap, rows

        def check(result):
            snap, rows = result
            m = self.mirror
            m.upsert(ids, vecs)
            fails = []
            probe = [int(i) for i in ids[-5:]]  # updated ids
            # one Spark job for both the row count and the probed versions
            row = snap.agg(F.count(F.lit(1)).alias("n"), F.collect_list(
                F.when(F.col("id").isin(probe),
                       F.struct("id", "version"))).alias("probe")).first()
            if row["n"] != len(m):
                fails.append("ingest_index: snapshot row count differs")
            got = {x["id"]: x["version"] for x in row["probe"]}
            if any(got.get(i) != r for i in probe):
                fails.append("ingest_index: updated ids not at the new version")
            by_req: dict[int, list] = {}
            for x in rows:
                by_req.setdefault(x["request_idx"], []).append((x["id"], x["score"]))
            recalls = []
            for i, (exp_ids, _s) in enumerate(m.topk(queries, K)):
                hits = sorted(by_req.get(i, []), key=lambda h: (-h[1], h[0]))
                recalls.append(recall([h[0] for h in hits], exp_ids))
            mean_recall = float(np.mean(recalls))
            if mean_recall < RECALL_FLOOR:
                fails.append(f"ingest_index: ANN recall@{K} {mean_recall:.3f} "
                             f"below floor {RECALL_FLOOR}")
            with open(os.path.join(self.work, "table", "CURRENT")) as f:
                snapshot = os.path.join(self.work, "table", f.read().strip())
            wbytes, wfiles, dirty = new_files(snapshot)
            stats.update(
                bytes_written=wbytes, files_written=wfiles,
                write_amplification=wbytes / batch_bytes,
                dirty_bucket_fraction=dirty / ID_BUCKETS,
                corpus_rows=len(m))
            shutil.rmtree(batch_path, ignore_errors=True)
            prev = os.path.join(self.work, f"ivf-{r - 1}")
            shutil.rmtree(prev, ignore_errors=True)
            return fails, mean_recall

        return [Op("ingest_round", call, check, queries=QUERIES, read=False,
                   stats=stats)]

    @staticmethod
    def named(recs) -> list[tuple[str, float, str]]:
        rounds = [r.stats for r in recs if not r.failures]
        apply_s = sum(x["apply_s"] for x in rounds)
        ann_s = [x["ann_s"] for x in rounds]
        build = [x["fit_s"] + x["persist_s"] for x in rounds]
        return [
            ("ingest_rows_per_s", ratio(BATCH * len(rounds), apply_s), "rows/s"),
            ("index_build_s", median(build), "s"),
            ("ann_qps", ratio(QUERIES, median(ann_s)), "q/s"),
            ("ann_recall_at_10",
             mean([r.recall for r in recs if r.recall is not None]), "ratio"),
        ]
