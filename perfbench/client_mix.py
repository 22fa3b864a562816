"""client_mix: a fixed mix of qdrant-client calls through
``client.QdrantSparkClient`` on a small collection (dense 64-d vector,
sparse ``text`` vector, typed payload ``cat`` / ``tenant`` / ``price``),
plus one streaming ingest round (``ingest_index.IngestIndex``) per cycle.

On a small corpus the fixed per-request driver cost (plan build, py4j
calls, Spark job launches, hydration) dominates and kernel work is tiny.
One client upsert per seven reads rewrites the collection snapshot
(``client._commit``), and the ingest round commits a micro-batch, rebuilds
the IVF index and probes it, so a read-side gain that costs writes shows
up.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa

from perfbench import datagen
from perfbench.common import Op, cores, median, ratio, tail
from perfbench.ingest_index import IngestIndex
from perfbench.oracle import SCORE_TOL, Mirror, hits_match, unit_rows

N_POINTS = 20_000
DIM = 64
COMPONENTS = 32
SPREAD = 0.6
VOCAB = 1024
NNZ = 16
QUERY_NNZ = 4
UPSERT = 300          # points per upsert: half new ids, half updates
BATCH_REQUESTS = 2    # requests per query_batch_points call
K = 10
COLL = "mix"

#: the fixed client-call sequence of one cycle: seven reads (each kind
#: once, to keep a run short), one write; the cycle ends with one ingest
#: round
CYCLE = ("query_points", "query_points_filtered", "count",
         "query_points_hybrid", "facet", "query_points_groups",
         "query_batch_points", "upsert")


class ClientMix:
    name = "client_mix"
    cycle_seconds = 18.0
    warmup_cycles = 1

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.mix = datagen.Mixture(seed, DIM, COMPONENTS, SPREAD)
        self.rng = np.random.default_rng([seed, 2])
        self.client = None
        self.mirror: Mirror | None = None
        self.next_id = N_POINTS
        self.ingest = IngestIndex(spark, os.path.join(work, "ingest"), seed,
                                  tracer)

    def setup(self) -> tuple[float, float]:
        """Write the collection's points table (the layout the client
        persists) and open it with the client: (datagen s, load s)."""
        from qdrant_spark.client import QdrantSparkClient

        t0 = time.perf_counter()
        rng = np.random.default_rng([self.seed, 1])
        vecs = self.mix.sample(rng, N_POINTS)
        idx, val = datagen.sparse_rows(rng, N_POINTS, VOCAB, NNZ)
        payload = datagen.payload_columns(rng, N_POINTS)
        ids = np.arange(N_POINTS, dtype=np.int64)
        table = pa.table({
            "id": ids,
            # version 0: the client's first upsert (version 1) must win
            # over the generated rows
            "version": np.zeros(N_POINTS, dtype=np.int64),
            "vec": datagen.list_array(vecs),
            "vec_text": datagen.sparse_array(idx, val),
            **payload,
        })
        root = os.path.join(self.work, "collections")
        datagen.write_files(table, os.path.join(root, COLL, "points"),
                            files=2 * cores())
        t1 = time.perf_counter()
        client = QdrantSparkClient(self.spark, root=root)
        client.create_collection(
            COLL, vectors_config={"size": DIM, "distance": "Cosine"},
            sparse_vectors_config={"text": {}})
        n = client.count(COLL).count
        t2 = time.perf_counter()
        if n != N_POINTS:
            raise RuntimeError(f"collection has {n} points, expected {N_POINTS}")
        self.client = client
        self.mirror = Mirror(ids, vecs, payload)
        datagen_s, load_s = self.ingest.setup()
        return t1 - t0 + datagen_s, t2 - t1 + load_s

    # -- request builders ----------------------------------------------------

    def _dense(self) -> list[float]:
        return [float(x) for x in self.mix.sample(self.rng, 1)[0]]

    def _sparse(self) -> dict:
        idx, val = datagen.sparse_rows(self.rng, 1, VOCAB, QUERY_NNZ)
        return {"indices": idx[0].tolist(), "values": val[0].tolist()}

    def _check_hits(self, kind, points, q, mask=None) -> list[str]:
        (exp_ids, exp_s), = self.mirror.topk(np.asarray([q]), K, mask)
        ok = hits_match([p.id for p in points], [p.score for p in points],
                        exp_ids, exp_s)
        return [] if ok else [f"{kind}: differs from oracle"]

    def _scores_exact(self, kind, points, q) -> list[str]:
        """Every returned id exists and carries its true cosine score."""
        pos = [self.mirror.pos.get(p.id) for p in points]
        if any(p is None for p in pos):
            return [f"{kind}: unknown id"]
        want = self.mirror.unit[pos] @ unit_rows(np.asarray([q]))[0]
        got = np.asarray([p.score for p in points])
        return [] if np.allclose(got, want, atol=SCORE_TOL, rtol=0) \
            else [f"{kind}: wrong scores"]

    def _op(self, kind: str) -> Op:
        c, m = self.client, self.mirror
        cat = str(datagen.CATS[self.rng.integers(len(datagen.CATS))])
        if kind == "query_points":
            q = self._dense()
            return Op(kind, lambda: c.query_points(COLL, query=q, limit=K),
                      lambda r: (self._check_hits(kind, r.points, q), None),
                      queries=1)
        if kind == "query_points_filtered":
            q = self._dense()
            flt = {"must": [{"key": "cat", "match": {"value": cat}},
                            {"key": "price", "range": {"lt": 50.0}}]}
            return Op(kind, lambda: c.query_points(
                COLL, query=q, query_filter=flt, limit=K),
                lambda r: (self._check_hits(
                    kind, r.points, q, m.mask(cat=cat, price_lt=50.0)), None),
                queries=1)
        if kind == "query_points_hybrid":
            q, sq = self._dense(), self._sparse()
            pf = [{"query": q, "limit": 2 * K},
                  {"query": sq, "using": "text", "limit": 2 * K}]

            def check(r):
                ids = [p.id for p in r.points]
                scores = [p.score for p in r.points]
                bad = (len(ids) != K or len(set(ids)) != K
                       or any(i not in m.pos for i in ids)
                       or scores != sorted(scores, reverse=True))
                return ([f"{kind}: malformed fusion result"] if bad else []), None

            return Op(kind, lambda: c.query_points(
                COLL, prefetch=pf, query={"fusion": "rrf"}, limit=K),
                check, queries=2)
        if kind == "query_points_groups":
            q = self._dense()

            def check(r):
                fails = []
                if not 0 < len(r.groups) <= 4:
                    fails.append(f"{kind}: {len(r.groups)} groups")
                for g in r.groups:
                    if not 0 < len(g.hits) <= 3 or any(
                            m.payload["cat"][m.pos[h.id]] != g.id for h in g.hits):
                        fails.append(f"{kind}: group {g.id} malformed")
                    fails += self._scores_exact(kind, g.hits, q)
                return fails, None

            return Op(kind, lambda: c.query_points_groups(
                COLL, group_by="cat", query=q, limit=4, group_size=3),
                check, queries=1)
        if kind == "facet":
            t = int(self.rng.integers(5, 15))
            flt = {"must": [{"key": "tenant", "range": {"lt": t}}]}

            def check(r):
                got = {h.value: h.count for h in r.hits}
                ok = got == m.facet("cat", m.mask(tenant_lt=t))
                return ([] if ok else [f"{kind}: counts differ"]), None

            return Op(kind, lambda: c.facet(COLL, "cat", facet_filter=flt), check)
        if kind == "count":
            flt = {"must": [{"key": "cat", "match": {"value": cat}}]}

            def check(r):
                ok = r.count == int(m.mask(cat=cat).sum())
                return ([] if ok else [f"{kind}: count differs"]), None

            return Op(kind, lambda: c.count(COLL, count_filter=flt), check)
        if kind == "query_batch_points":
            qs = [self._dense() for _ in range(BATCH_REQUESTS)]
            reqs = [{"query": q, "limit": K} for q in qs]

            def check(r):
                fails = [f for resp, q in zip(r, qs)
                         for f in self._check_hits(kind, resp.points, q)]
                return fails, None

            return Op(kind, lambda: c.query_batch_points(COLL, reqs), check,
                      queries=BATCH_REQUESTS)
        if kind == "upsert":
            return self._upsert()
        raise ValueError(kind)

    def _upsert(self) -> Op:
        c, m, rng = self.client, self.mirror, self.rng
        n_new = UPSERT // 2
        ids = np.concatenate([
            np.arange(self.next_id, self.next_id + n_new, dtype=np.int64),
            rng.choice(self.next_id, UPSERT - n_new, replace=False)])
        self.next_id += n_new
        vecs = self.mix.sample(rng, UPSERT)
        idx, val = datagen.sparse_rows(rng, UPSERT, VOCAB, NNZ)
        payload = datagen.payload_columns(rng, UPSERT)
        points = [{"id": int(i),
                   "vector": {"": [float(x) for x in v],
                              "text": {"indices": a.tolist(), "values": b.tolist()}},
                   "payload": {"cat": str(payload["cat"][j]),
                               "tenant": int(payload["tenant"][j]),
                               "price": float(payload["price"][j])}}
                  for j, (i, v, a, b) in enumerate(zip(ids, vecs, idx, val))]

        def check(_):
            m.upsert(ids, vecs, payload)
            fails = []
            if c.count(COLL).count != len(m):
                fails.append("upsert: row count differs after write")
            probe = [int(i) for i in ids[-5:]]  # updated ids
            recs = {r.id: r for r in c.retrieve(COLL, probe)}
            for i in probe:
                want = float(m.payload["price"][m.pos[i]])
                if i not in recs or recs[i].payload.get("price") != want:
                    fails.append(f"upsert: id {i} not at its new version")
            return fails, None

        return Op("upsert", lambda: c.upsert(COLL, points), check, read=False)

    def cycle(self) -> list[Op]:
        return [self._op(kind) for kind in CYCLE] + self.ingest.cycle()

    @staticmethod
    def named(recs) -> list[tuple[str, float, str]]:
        rounds = [r for r in recs if r.kind == "ingest_round"]
        ok = [r for r in recs if not r.failures and r.kind != "ingest_round"]
        reads = [r.seconds for r in ok if r.read]
        writes = [r.seconds for r in ok if not r.read]
        return [
            ("client_rps", ratio(len(ok), sum(r.seconds for r in ok)), "req/s"),
            ("client_read_p50_s", median(reads), "s"),
            tail("client_read_tail_s", reads),
            ("client_write_p50_s", median(writes), "s"),
            *IngestIndex.named(rounds),
        ]
