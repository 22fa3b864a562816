"""Composed quantization x IVF search (r11): probe clusters, score codes,
exact-rescore floats — the reference's quantized-HNSW deployment (HNSW
search reads quantized codes, rescore reads originals:
lib/segment/src/index/hnsw_index/hnsw.rs quantized scorer path, test
lib/segment/tests/integration/hnsw_quantized_search_test.rs). Gates:

- full probe == plain quantized search EXACTLY, per quantization kind;
- partial probe keeps recall while the coarse stage reads only the
  probed clusters' code rows (PartitionFilters once persisted);
- the planner composes when BOTH an IVF and a quant registration exist
  (previously the IVF-wins rule dropped the code-width pruning);
- maintenance lifecycle: build / load-on-matching-meta / rebuild-on-
  config-change, through the client too.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from qdrant_spark.operators.ann import build_ivf
from qdrant_spark.operators.quantize import (
    build_quant,
    compose_quant_ivf,
    persist_quant_ivf,
    quant_ivf_search,
    quant_search,
)


def _rows(df):
    return [(r[0], round(r[1], 9)) for r in df.collect()]


@pytest.fixture(scope="module")
def ivf8(embeddings):
    return build_ivf(embeddings, n_clusters=8, vec_col="embedding",
                     id_col="vec_id")


@pytest.mark.parametrize("config", [
    {"scalar": {}},
    {"product": {"compression": "x8"}},
    {"binary": {}},
    {"turbo": {"bits": "bits4"}},
])
def test_quant_ivf_full_probe_matches_quant_search(embeddings, ivf8, config):
    """nprobe == n_clusters makes the cluster stage a no-op: the composed
    search equals the plain quantized two-stage search bit-for-bit, for
    every quantization kind."""
    h = build_quant(embeddings, config, vec_col="embedding",
                    id_col="vec_id")
    qih = compose_quant_ivf(h, ivf8, nprobe=8)
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    want = _rows(quant_search(h, q, k=10, metric="cosine",
                              oversampling=6.0))
    got = _rows(quant_ivf_search(qih, q, k=10, metric="cosine",
                                 oversampling=6.0))
    assert got == want


def test_quant_ivf_pruned_recall_and_scan(embeddings, ivf8, tmp_path):
    """Partial probe: the coarse stage scans only the probed clusters'
    (id, code) rows — PartitionFilters on the persisted layout — and
    recall@10 vs the exact scan clearly beats the probed coverage at
    nprobe=4/8 (the clustering is informative, not just sampling).

    Floor history: the pre-r14 0.85 floor at nprobe=4 was an artifact
    of MLlib's degenerate fit on this unclusterable 500-vector corpus —
    cluster sizes [1, 100, 76, 129, 1, 74, 11, 108], so "nprobe=4"
    probed ~80% of the mass and recall measured coverage, not
    clustering. The r14 driver-side fit (kmeans++ best-of-4) is
    balanced (max cluster ~78), probes an honest ~50%, and lands
    ~0.78 at nprobe=4 / >=0.85 at nprobe=5 — gated as recall >>
    coverage plus the balance that makes pruned layouts predictable
    (no straggler partitions at scale)."""
    import numpy as np

    from pyspark.sql import functions as F

    from qdrant_spark.operators.knn import knn

    h = build_quant(embeddings, {"scalar": {}}, vec_col="embedding",
                    id_col="vec_id")
    qih = persist_quant_ivf(compose_quant_ivf(h, ivf8, nprobe=4),
                            str(tmp_path / "coded"))
    n = embeddings.count()
    sizes = {r["__cluster"]: r["c"] for r in
             qih.coded.groupBy("__cluster").agg(
                 F.count(F.lit(1)).alias("c")).collect()}
    assert max(sizes.values()) <= 0.35 * n, sizes  # balanced fit
    qs = [list(r["embedding"]) for r in embeddings.limit(8).collect()]
    cents = qih.centroids
    hits = coverage = 0
    for q in qs:
        exact = {r[0] for r in knn(
            embeddings, q, metric="cosine", k=10, vec_col="embedding",
            id_col="vec_id", select=["vec_id", "score"]).collect()}
        got = {r[0] for r in quant_ivf_search(
            qih, q, k=10, metric="cosine", oversampling=6.0).collect()}
        hits += len(exact & got)
        d = ((cents - np.asarray(q)) ** 2).sum(axis=1)
        probed = np.argsort(d)[:4]
        coverage += sum(sizes.get(int(c), 0) for c in probed) / n
    recall = hits / (10 * len(qs))
    coverage /= len(qs)
    assert coverage <= 0.65, coverage  # the probe really prunes
    assert recall >= 0.70, (recall, coverage)
    assert recall >= coverage + 0.15, (recall, coverage)
    # plan: the probe is a partition filter on the persisted coded table,
    # and that coarse scan reads the code column only — the float vector
    # column appears in the rescore scan, never the coarse one
    out = quant_ivf_search(qih, qs[0], k=10, metric="cosine")
    plan = out._jdf.queryExecution().executedPlan().toString()
    coarse_scans = [s for s in plan.split("FileScan")[1:]
                    if "__sq" in s.split("\n", 1)[0]]
    assert coarse_scans
    for s in coarse_scans:
        head = s[:1200]
        assert "PartitionFilters: [" in head
        assert "__cluster" in head.split("PartitionFilters", 1)[1][:200]
        assert "embedding" not in head.split("ReadSchema", 1)[1][:200]


def test_planner_composes_when_both_registered(embeddings, ivf8):
    """A column with BOTH an IVF and a quantized handle routes
    dense `nearest` through the composed plan (quant_ivf_leaves) instead
    of the old IVF-wins rule; ignore/exact/filtered keep their existing
    routes."""
    from qdrant_spark.query import QueryPlanner

    h = build_quant(embeddings, {"scalar": {"full_scan_threshold": 0}}, vec_col="embedding",
                    id_col="vec_id")
    pl = QueryPlanner(embeddings, id_col="vec_id",
                      default_vec_col="embedding", metric="cosine",
                      indexes={"embedding": [ivf8, h]})
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    out = pl.plan({"query": {"nearest": q}, "limit": 10,
                   "params": {"quantization": {"oversampling": 6.0}}})
    # full-probe composed handle not requested -> lazy compose at nprobe=4
    got = [(r["vec_id"], round(r["score"], 9)) for r in out.collect()]
    assert len(got) == 10
    assert pl.last_plan_info.get("quant_ivf_leaves") == 1
    # the lazily composed handle is cached for subsequent plans
    assert "quant_ivf" in pl.indexes["embedding"]

    # values match the operator-level composed search exactly
    qih = pl.indexes["embedding"]["quant_ivf"]
    want = _rows(quant_ivf_search(qih, q, k=10, metric="cosine",
                                  oversampling=6.0))
    assert got == want

    # quantization.ignore falls back to the IVF dispatcher
    pl.plan({"query": {"nearest": q}, "limit": 10,
             "params": {"quantization": {"ignore": True}}}).collect()
    assert pl.last_plan_info.get("quant_ivf_leaves") is None
    # params.exact bypasses everything
    ex = pl.plan({"query": {"nearest": q}, "limit": 10,
                  "params": {"exact": True}})
    from qdrant_spark.operators.knn import knn

    assert _rows(ex) == _rows(knn(
        embeddings, q, metric="cosine", k=10, vec_col="embedding",
        id_col="vec_id", select=["vec_id", "score"]))
    assert pl.last_plan_info.get("quant_ivf_leaves") is None
    # a filtered request keeps the IVF dispatcher's selectivity logic
    half = embeddings.count() // 2
    fout = pl.plan({"query": {"nearest": q}, "limit": 10,
                    "filter": {"must": [{"key": "vec_id",
                                         "range": {"lt": half}}]}})
    rows = fout.collect()
    assert rows and all(r["vec_id"] < half for r in rows)
    assert pl.last_plan_info.get("quant_ivf_leaves") is None

    # offset + threshold are handled by the composed leaf
    base = pl.plan({"query": {"nearest": q}, "limit": 10,
                    "params": {"quantization": {"oversampling": 6.0}}})
    brows = [(r["vec_id"], round(r["score"], 9)) for r in base.collect()]
    off = pl.plan({"query": {"nearest": q}, "limit": 5, "offset": 2,
                   "params": {"quantization": {"oversampling": 6.0}}})
    assert [(r["vec_id"], round(r["score"], 9))
            for r in off.collect()] == brows[2:7]
    assert pl.last_plan_info.get("quant_ivf_leaves") == 1


def test_ensure_quant_ivf_lifecycle(embeddings, tmp_path):
    """skip / build / load / rebuild for the composed index — the
    config_mismatch + indexing optimizer contract of ensure_ann_index,
    with the quant state and centroids reloading from meta (no KMeans,
    no re-encode on a matching load)."""
    from qdrant_spark.plans.maintenance import ensure_quant_ivf_index

    path = str(tmp_path / "qivf")
    small = embeddings.limit(50)
    qih, action = ensure_quant_ivf_index(
        small, path, {"scalar": {}}, n_clusters=4,
        vec_col="embedding", id_col="vec_id", indexing_threshold=10_000)
    assert (qih, action) == (None, "skipped")

    qih, action = ensure_quant_ivf_index(
        embeddings, path, {"scalar": {}}, n_clusters=8, nprobe=8,
        vec_col="embedding", id_col="vec_id", indexing_threshold=0)
    assert action == "built"
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    built = _rows(quant_ivf_search(qih, q, k=10, metric="cosine",
                                   oversampling=6.0))

    loaded, action = ensure_quant_ivf_index(
        embeddings, path, {"scalar": {}}, n_clusters=8, nprobe=8,
        vec_col="embedding", id_col="vec_id", indexing_threshold=0)
    assert action == "loaded"
    assert _rows(quant_ivf_search(loaded, q, k=10, metric="cosine",
                                  oversampling=6.0)) == built
    # nprobe is a routing knob, not a rebuild trigger
    loaded2, action = ensure_quant_ivf_index(
        embeddings, path, {"scalar": {}}, n_clusters=8, nprobe=2,
        vec_col="embedding", id_col="vec_id", indexing_threshold=0)
    assert action == "loaded" and loaded2.nprobe == 2

    _, action = ensure_quant_ivf_index(
        embeddings, path, {"binary": {}}, n_clusters=8,
        vec_col="embedding", id_col="vec_id", indexing_threshold=0)
    assert action == "rebuilt"  # config mismatch
    _, action = ensure_quant_ivf_index(
        embeddings, path, {"binary": {}}, n_clusters=4,
        vec_col="embedding", id_col="vec_id", indexing_threshold=0)
    assert action == "rebuilt"  # cluster-count mismatch


def test_client_quantized_ivf_composed(spark, embeddings, tmp_path):
    """create_collection(quantization_config) + ensure_vector_index with
    explicit clustering params = the composed route through
    client.query_points; a NEW session over the same root reloads
    without re-clustering; ensure without clustering params keeps the
    r10 codes-only behavior."""
    from qdrant_spark.client import QdrantSparkClient

    rows = embeddings.orderBy("vec_id").limit(300).collect()
    dim = len(rows[0]["embedding"])
    pts = [{"id": int(r["vec_id"]),
            "vector": [float(x) for x in r["embedding"]]} for r in rows]
    q = [float(x) for x in rows[2]["embedding"]]

    c = QdrantSparkClient(spark, root=str(tmp_path))
    c.create_collection(
        "qivf", vectors_config={"size": dim, "distance": "Cosine"},
        quantization_config={"scalar": {"full_scan_threshold": 0}})
    c.upsert("qivf", pts)
    assert c.ensure_vector_index("qivf", n_clusters=8, nprobe=8,
                                 indexing_threshold=0) == "built"
    assert "" in c._coll("qivf").quant_ivf
    assert "" in c._coll("qivf").quant  # coarse handle registers too
    exact = c.query_points("qivf", query=q, limit=10, with_payload=False,
                           search_params={"exact": True})
    got = c.query_points("qivf", query=q, limit=10, with_payload=False,
                         search_params={"quantization":
                                        {"oversampling": 8.0}})
    # full probe + ample oversampling == exact scan
    assert [(p.id, round(p.score, 6)) for p in got.points] == \
        [(p.id, round(p.score, 6)) for p in exact.points]
    # and the client's planner really takes the COMPOSED route (the
    # registered handle, no IVF handle needed)
    pl = c._planner(c._coll("qivf"), None)
    pl.plan({"query": {"nearest": q}, "limit": 5}).collect()
    assert pl.last_plan_info.get("quant_ivf_leaves") == 1

    # new session over the same root: loaded, same answers
    c2 = QdrantSparkClient(spark, root=str(tmp_path))
    c2.create_collection(
        "qivf", vectors_config={"size": dim, "distance": "Cosine"},
        quantization_config={"scalar": {"full_scan_threshold": 0}})
    c2.upsert("qivf", pts)
    assert c2.ensure_vector_index("qivf", n_clusters=8, nprobe=8,
                                  indexing_threshold=0) == "loaded"
    got2 = c2.query_points("qivf", query=q, limit=10, with_payload=False,
                           search_params={"quantization":
                                          {"oversampling": 8.0}})
    assert [(p.id, round(p.score, 6)) for p in got2.points] == \
        [(p.id, round(p.score, 6)) for p in exact.points]

    # no clustering params -> codes-only (r10 behavior preserved)
    c3 = QdrantSparkClient(spark)
    c3.create_collection(
        "qplain", vectors_config={"size": dim, "distance": "Cosine"},
        quantization_config={"scalar": {}})
    c3.upsert("qplain", pts)
    assert c3.ensure_vector_index("qplain", indexing_threshold=0) == "built"
    assert c3._coll("qplain").quant_ivf == {}
    assert "" in c3._coll("qplain").quant


def test_client_declared_index_params_compose(spark, embeddings):
    """Clustering params declared in the vector config at create time
    (the per-vector hnsw_config analogue) are read by a bare
    ensure_vector_index — create -> ensure -> query routes composed with
    the declared n_clusters/nprobe."""
    from qdrant_spark.client import QdrantSparkClient

    rows = embeddings.orderBy("vec_id").limit(200).collect()
    dim = len(rows[0]["embedding"])
    c = QdrantSparkClient(spark)
    c.create_collection("qdecl", vectors_config={
        "size": dim, "distance": "Cosine",
        "quantization_config": {"scalar": {}},
        "index": {"n_clusters": 8, "nprobe": 8}})
    c.upsert("qdecl", [{"id": int(r["vec_id"]),
                        "vector": [float(x) for x in r["embedding"]]}
                       for r in rows])
    assert c.ensure_vector_index("qdecl", indexing_threshold=0) == "built"
    qih = c._coll("qdecl").quant_ivf[""]
    assert len(qih.centroids) == 8 and qih.nprobe == 8
    q = [float(x) for x in rows[0]["embedding"]]
    got = c.query_points("qdecl", query=q, limit=5, with_payload=False,
                         search_params={"quantization":
                                        {"oversampling": 8.0}})
    exact = c.query_points("qdecl", query=q, limit=5, with_payload=False,
                           search_params={"exact": True})
    assert [(p.id, round(p.score, 6)) for p in got.points] == \
        [(p.id, round(p.score, 6)) for p in exact.points]


def test_query_batch_composed_quant_ivf(embeddings, ivf8, monkeypatch):
    """Batched COMPOSED search (r11): >=2 unfiltered dense requests on a
    column with both cluster and code structure run ONE cluster-masked
    coarse scan (each query scored only inside ITS probed clusters) +
    ONE pair rescore — value-identical per request to the per-request
    composed plans, including offset / rescore=False / threshold."""
    from qdrant_spark.operators import ann
    from qdrant_spark.query import query_batch

    h = build_quant(embeddings, {"scalar": {"full_scan_threshold": 0}},
                    vec_col="embedding", id_col="vec_id")
    qih = compose_quant_ivf(h, ivf8, nprobe=3)
    rows = embeddings.limit(3).collect()
    q1, q2, q3 = (list(r["embedding"]) for r in rows)
    reqs = [
        {"query": {"nearest": q1}, "limit": 5,
         "params": {"quantization": {"oversampling": 6.0}}},
        {"query": {"nearest": q2}, "limit": 4, "offset": 1},
        {"query": {"nearest": q3}, "limit": 5,
         "params": {"quantization": {"rescore": False}}},
        {"query": {"nearest": q1}, "limit": 8, "score_threshold": 0.1},
    ]
    kw = dict(id_col="vec_id", vec_col="embedding",
              indexes={"embedding": [h, qih]})
    want = [query_batch(embeddings, [dict(r)], **kw).collect()
            for r in reqs]
    calls = []
    orig = ann.cluster_masked_topk
    monkeypatch.setattr(
        ann, "cluster_masked_topk",
        lambda *a, **k: calls.append(1) or orig(*a, **k))
    got = query_batch(embeddings, [dict(r) for r in reqs],
                      **kw).collect()
    assert len(calls) == 1  # ONE masked coarse scan for the batch
    by_req: dict = {}
    for r in got:
        by_req.setdefault(r["request_idx"], []).append(
            (r["vec_id"], round(r["score"], 6)))
    for i, w in enumerate(want):
        assert sorted(by_req.get(i, [])) == \
            sorted((r["vec_id"], round(r["score"], 6)) for r in w), i


@pytest.mark.parametrize("config,metric", [
    ({"product": {"compression": "x8"}}, "cosine"),
    ({"binary": {}}, "cosine"),
    ({"turbo": {"bits": "bits4"}}, "euclid"),
])
def test_query_batch_composed_all_kinds(embeddings, ivf8, config, metric):
    """The masked composed batch covers every quantization kind — the
    per-kind decode hooks are shared with the plain batched path."""
    from qdrant_spark.query import query_batch

    h = build_quant(embeddings, config, vec_col="embedding",
                    id_col="vec_id")
    qih = compose_quant_ivf(h, ivf8, nprobe=3)
    rows = embeddings.limit(2).collect()
    q1, q2 = (list(r["embedding"]) for r in rows)
    reqs = [
        {"query": {"nearest": q1}, "limit": 5,
         "params": {"quantization": {"oversampling": 8.0}}},
        {"query": {"nearest": q2}, "limit": 4,
         "params": {"quantization": {"oversampling": 8.0}}},
    ]
    kw = dict(id_col="vec_id", vec_col="embedding", metric=metric,
              indexes={"embedding": [h, qih]})
    want = [query_batch(embeddings, [dict(r)], **kw).collect()
            for r in reqs]
    got = query_batch(embeddings, [dict(r) for r in reqs], **kw).collect()
    by_req: dict = {}
    for r in got:
        by_req.setdefault(r["request_idx"], []).append(
            (r["vec_id"], round(r["score"], 6)))
    for i, w in enumerate(want):
        assert sorted(by_req.get(i, [])) == \
            sorted((r["vec_id"], round(r["score"], 6)) for r in w), i


def test_quant_ivf_binary_asym_composes(embeddings, ivf8):
    """Binary quantization with an asymmetric query_encoding composes
    with IVF like any other kind: full probe == the plain asymmetric
    two-stage search bit-for-bit (the query_encoding lives on the
    BqIndex, so the cluster-pruned replica scores identically), and
    batched asym requests fuse through the masked composed scan."""
    from qdrant_spark.query import query_batch

    cfg = {"binary": {"encoding": "one_bit",
                      "query_encoding": "scalar8bits"}}
    h = build_quant(embeddings, cfg, vec_col="embedding",
                    id_col="vec_id")
    qih = compose_quant_ivf(h, ivf8, nprobe=8)
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    want = _rows(quant_search(h, q, k=10, metric="cosine",
                              oversampling=6.0))
    got = _rows(quant_ivf_search(qih, q, k=10, metric="cosine",
                                 oversampling=6.0))
    assert got == want

    rows = embeddings.limit(2).collect()
    q1, q2 = (list(r["embedding"]) for r in rows)
    reqs = [{"query": {"nearest": q1}, "limit": 5,
             "params": {"quantization": {"oversampling": 8.0}}},
            {"query": {"nearest": q2}, "limit": 4,
             "params": {"quantization": {"rescore": False}}}]
    kw = dict(id_col="vec_id", vec_col="embedding", metric="cosine",
              indexes={"embedding": [h, compose_quant_ivf(
                  h, ivf8, nprobe=3)]})
    want_b = [query_batch(embeddings, [dict(r)], **kw).collect()
              for r in reqs]
    got_b = query_batch(embeddings, [dict(r) for r in reqs],
                        **kw).collect()
    by_req: dict = {}
    for r in got_b:
        by_req.setdefault(r["request_idx"], []).append(
            (r["vec_id"], round(r["score"], 6)))
    for i, w in enumerate(want_b):
        assert sorted(by_req.get(i, [])) == \
            sorted((r["vec_id"], round(r["score"], 6)) for r in w), i


def test_compose_only_wires_persisted_clustered_full(embeddings, ivf8,
                                                     tmp_path):
    """compose_quant_ivf wires the assignment as the rescore layout ONLY
    when it is a persisted cluster-partitioned scan — filtering a
    COMPUTED assignment by __cluster would re-run the whole cluster
    transform per query instead of pruning files (r13 ADVICE)."""
    from qdrant_spark.operators.ann import persist_ivf

    h = build_quant(embeddings, {"scalar": {}}, vec_col="embedding",
                    id_col="vec_id")
    assert compose_quant_ivf(h, ivf8, nprobe=4).clustered_full is None
    pivf = persist_ivf(ivf8, str(tmp_path / "ivf"))
    qih = compose_quant_ivf(h, pivf, nprobe=4)
    assert qih.clustered_full is not None
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    assert _rows(quant_ivf_search(qih, q, k=10, metric="cosine",
                                  oversampling=6.0)) \
        == _rows(quant_ivf_search(compose_quant_ivf(h, ivf8, nprobe=4),
                                  q, k=10, metric="cosine",
                                  oversampling=6.0))


def test_ensure_quant_ivf_load_restores_clustered_full(embeddings,
                                                       tmp_path):
    """The LOAD path re-wires the persisted cluster-partitioned float
    layout (r13 VERDICT: load_quant_ivf_index returned
    clustered_full=None, so every reloaded composed index silently
    re-paid the full-table decode): a loaded handle's exact rescore
    reads ONLY the probed clusters' FILES — PartitionFilters on BOTH
    the coarse codes scan and the float rescore scan — and results
    equal the flat-rescore plan bit-for-bit."""
    import re
    from dataclasses import replace

    from qdrant_spark.plans.maintenance import ensure_quant_ivf_index

    path = str(tmp_path / "qivf")
    built, action = ensure_quant_ivf_index(
        embeddings, path, {"scalar": {}}, n_clusters=4, nprobe=2,
        vec_col="embedding", id_col="vec_id", indexing_threshold=0)
    assert action == "built" and built.clustered_full is not None

    loaded, action = ensure_quant_ivf_index(
        embeddings, path, {"scalar": {}}, n_clusters=4, nprobe=2,
        vec_col="embedding", id_col="vec_id", indexing_threshold=0)
    assert action == "loaded" and loaded.clustered_full is not None

    q = list(embeddings.limit(1).collect()[0]["embedding"])
    for npb in (2, 4):
        pruned = _rows(quant_ivf_search(loaded, q, k=5, nprobe=npb,
                                        oversampling=8.0))
        flat = _rows(quant_ivf_search(
            replace(loaded, clustered_full=None), q, k=5, nprobe=npb,
            oversampling=8.0))
        assert pruned == flat, npb
    out = quant_ivf_search(loaded, q, k=5, nprobe=2, oversampling=8.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    hits = re.findall(r"PartitionFilters: \[[^\]]*__cluster[^\]]*IN",
                      plan)
    assert len(hits) >= 2, plan[:1500]


def test_ensure_quant_ivf_upgrades_pre_r14_meta(embeddings, tmp_path):
    """A persisted index whose meta predates the clustered_full layout
    (flag absent) is REBUILT on the next ensure — the
    config_mismatch_optimizer posture applied to the storage layout, so
    old deployments pick the pruned rescore up automatically."""
    import json
    import os

    from qdrant_spark.plans.maintenance import ensure_quant_ivf_index

    path = str(tmp_path / "qivf")
    _, action = ensure_quant_ivf_index(
        embeddings, path, {"scalar": {}}, n_clusters=4,
        vec_col="embedding", id_col="vec_id", indexing_threshold=0)
    assert action == "built"
    mp = os.path.join(path, "quant_ivf_meta.json")
    with open(mp) as f:
        meta = json.load(f)
    del meta["clustered_full"]  # simulate a pre-r14 index
    with open(mp, "w") as f:
        json.dump(meta, f)
    qih, action = ensure_quant_ivf_index(
        embeddings, path, {"scalar": {}}, n_clusters=4,
        vec_col="embedding", id_col="vec_id", indexing_threshold=0)
    assert action == "rebuilt" and qih.clustered_full is not None


def test_ensure_quant_ivf_corpus_signature_drift(embeddings, tmp_path):
    """corpus_signature closes the content-drift hole (r13 ADVICE): the
    persisted layouts freeze the floats at build time and the row-count
    check can't see count-stable mutations. Two-tier check: a matching
    signature loads with no scan; a changed signature runs the one-pass
    content probe — identical content loads (and re-stamps the new
    signature), REAL drift rebuilds; omitting the signature keeps the
    row-count-only contract."""
    from qdrant_spark.plans.maintenance import ensure_quant_ivf_index

    path = str(tmp_path / "qivf")
    _, action = ensure_quant_ivf_index(
        embeddings, path, {"scalar": {}}, n_clusters=4,
        vec_col="embedding", id_col="vec_id", indexing_threshold=0,
        corpus_signature="v1")
    assert action == "built"
    _, action = ensure_quant_ivf_index(
        embeddings, path, {"scalar": {}}, n_clusters=4,
        vec_col="embedding", id_col="vec_id", indexing_threshold=0,
        corpus_signature="v1")
    assert action == "loaded"
    _, action = ensure_quant_ivf_index(
        embeddings, path, {"scalar": {}}, n_clusters=4,
        vec_col="embedding", id_col="vec_id", indexing_threshold=0)
    assert action == "loaded"  # no signature = row-count-only check
    # new signature, SAME content (a re-ingest): content probe loads
    # and re-stamps — restarts never re-cluster
    _, action = ensure_quant_ivf_index(
        embeddings, path, {"scalar": {}}, n_clusters=4,
        vec_col="embedding", id_col="vec_id", indexing_threshold=0,
        corpus_signature="v2")
    assert action == "loaded"
    _, action = ensure_quant_ivf_index(
        embeddings, path, {"scalar": {}}, n_clusters=4,
        vec_col="embedding", id_col="vec_id", indexing_threshold=0,
        corpus_signature="v2")
    assert action == "loaded"  # the re-stamp stuck
    # new signature, count-stable content DRIFT: rebuilt
    drifted = embeddings.withColumn(
        "embedding",
        F.transform(F.col("embedding"),
                    lambda x: (x.cast("double") * 2.0).cast("float")))
    _, action = ensure_quant_ivf_index(
        drifted, path, {"scalar": {}}, n_clusters=4,
        vec_col="embedding", id_col="vec_id", indexing_threshold=0,
        corpus_signature="v3")
    assert action == "rebuilt"
