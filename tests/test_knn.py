"""Exact KNN vs a NumPy oracle on the real embeddings table."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from qdrant_spark.operators.knn import knn, knn_batch


@pytest.fixture(scope="module")
def emb_np(embeddings):
    rows = embeddings.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    return ids[order], mat[order]


def oracle_topk(ids, mat, q, metric, k):
    q = np.asarray(q, dtype=np.float64)
    if metric == "dot":
        s = mat @ q
        order_desc = True
    elif metric == "cosine":
        s = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
        order_desc = True
    elif metric == "euclid":
        s = np.linalg.norm(mat - q, axis=1)
        order_desc = False
    else:
        s = np.abs(mat - q).sum(axis=1)
        order_desc = False
    key = sorted(range(len(ids)), key=lambda i: (-s[i] if order_desc else s[i], ids[i]))
    return [(int(ids[i]), float(s[i])) for i in key[:k]]


@pytest.mark.parametrize("metric", ["dot", "cosine", "euclid", "manhattan"])
def test_knn_matches_numpy(embeddings, emb_np, metric):
    ids, mat = emb_np
    q = mat[7].tolist()
    got = knn(
        embeddings, q, metric=metric, k=10, vec_col="embedding", id_col="vec_id"
    ).select("vec_id", "score").collect()
    exp = oracle_topk(ids, mat, q, metric, 10)
    assert [(r["vec_id"], pytest.approx(r["score"], rel=1e-8)) for r in got] == exp


def test_knn_filter_and_threshold(embeddings, emb_np):
    ids, mat = emb_np
    q = mat[3].tolist()
    got = knn(
        embeddings,
        q,
        metric="dot",
        k=5,
        vec_col="embedding",
        id_col="vec_id",
        flt={"must": [{"key": "label", "match": {"value": 2}}]},
        score_threshold=0.0,
    ).collect()
    labels = {r["label"] for r in got}
    assert labels == {2}
    assert all(r["score"] > 0.0 for r in got)


def test_knn_batch(embeddings, emb_np, spark):
    ids, mat = emb_np
    queries = spark.createDataFrame(
        [(int(ids[i]), mat[i].tolist()) for i in range(4)], "qid long, qvec array<double>"
    )
    got = knn_batch(
        embeddings,
        queries,
        metric="cosine",
        k=5,
        vec_col="embedding",
        id_col="vec_id",
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["vec_id"], r["score"]))
    assert set(by_q) == {int(ids[i]) for i in range(4)}
    for i in range(4):
        exp = oracle_topk(ids, mat, mat[i], "cosine", 5)
        rows = sorted(by_q[int(ids[i])])
        assert [(v, pytest.approx(s, rel=1e-8)) for _, v, s in rows] == exp


@pytest.mark.parametrize("path", ["matmul", "single_arrow", "ivf", "maxsim",
                                  "sq_coarse", "pq_coarse", "maxsim_single",
                                  "maxsim_pair", "reco_compose"])
def test_tied_scores_rank_by_id_on_arrow_paths(spark, tied_points, path):
    """Every row of ``tied_points`` scores the same, so the exact top k is
    ids 1..k. Each Arrow scorer cuts a local top k before the final
    window (or the one-query top-k sort); a cut that keeps arbitrary
    tied rows loses the low ids before the finish sees them.
    ``sq_coarse`` / ``pq_coarse`` are the single-request scalar and
    product coarse scans (rescore off); ``maxsim_pair`` rescores a pair
    set holding every id; ``reco_compose`` is the recommend scorers'
    composed-score path."""
    from qdrant_spark.operators.ann import IvfIndex, ivf_search_batch
    from qdrant_spark.operators.multivec import (
        maxsim_knn, maxsim_knn_batch, maxsim_pair_topk,
    )
    from qdrant_spark.operators.quantize import (
        build_pq, build_sq, pq_search, sq_search,
    )
    from qdrant_spark.operators.recommend import recommend_best_score

    k = 5
    q = [1.0, 0.0, 0.5, 0.0]
    queries = spark.createDataFrame([(0, q)], "qid long, qvec array<double>")
    if path == "matmul":
        got = knn_batch(tied_points, queries, k=k).orderBy("rank")
    elif path == "single_arrow":
        got = knn(tied_points, q, k=k, select=["id", "score"], arrow_dispatch_bytes=0)
    elif path == "ivf":
        idx = IvfIndex(
            assigned=tied_points.withColumn("__cluster", F.lit(0)),
            centroids=np.asarray([q]), vec_col="vec", id_col="id",
        )
        got = ivf_search_batch(idx, queries, k=k, nprobe=1).orderBy("rank")
    elif path == "maxsim":
        got = maxsim_knn_batch(tied_points, [[q, q]], k=k).orderBy("rank")
    elif path == "sq_coarse":
        got = sq_search(build_sq(tied_points), q, k=k, rescore=False)
    elif path == "pq_coarse":
        got = pq_search(build_pq(tied_points, n_subspaces=2), q, k=k,
                        rescore=False)
    elif path == "maxsim_single":
        got = maxsim_knn(tied_points, [q, q], k=k)
    elif path == "maxsim_pair":
        pairs = tied_points.select(F.lit(0).cast("long").alias("__qid"), "id")
        got = maxsim_pair_topk(tied_points, pairs, [[q, q]], k=k) \
            .orderBy("rank")
    else:
        got = recommend_best_score(tied_points, [q], [[0.0, 1.0, 0.0, 0.0]],
                                   k=k, arrow_dispatch_bytes=0)
    assert [r["id"] for r in got.collect()] == list(range(1, k + 1))


def test_knn_offset(embeddings, emb_np):
    ids, mat = emb_np
    q = mat[0].tolist()
    full = oracle_topk(ids, mat, q, "dot", 10)
    got = knn(
        embeddings, q, metric="dot", k=5, offset=5, vec_col="embedding", id_col="vec_id"
    ).select("vec_id").collect()
    assert [r["vec_id"] for r in got] == [i for i, _ in full[5:10]]


def test_knn_single_arrow_path_matches_column_path(embeddings, emb_np):
    ids, mat = emb_np
    q = mat[3].tolist()
    for metric in ("cosine", "euclid"):
        col_path = knn(embeddings, q, metric=metric, k=8, vec_col="embedding",
                       id_col="vec_id", select=["vec_id", "score"]).collect()
        arrow_path = knn(embeddings, q, metric=metric, k=8, vec_col="embedding",
                         id_col="vec_id", select=["vec_id", "score"],
                         arrow_dispatch_bytes=0).collect()
        assert [r["vec_id"] for r in arrow_path] == [r["vec_id"] for r in col_path]
        for a, c in zip(arrow_path, col_path):
            assert a["score"] == pytest.approx(c["score"], rel=1e-9)


def test_knn_single_arrow_with_filter_threshold_offset(embeddings, emb_np):
    ids, mat = emb_np
    q = mat[0].tolist()
    kw = dict(metric="cosine", k=5, vec_col="embedding", id_col="vec_id",
              flt={"must": [{"key": "label", "match": {"any": [0, 1, 2]}}]},
              score_threshold=0.0, offset=2, select=["vec_id", "label", "score"])
    col_path = knn(embeddings, q, **kw).collect()
    arrow_path = knn(embeddings, q, **kw, arrow_dispatch_bytes=0).collect()
    assert [(r["vec_id"], r["label"]) for r in arrow_path] == \
           [(r["vec_id"], r["label"]) for r in col_path]


def test_knn_wrong_dimension_raises(embeddings):
    """The Column path fails in-plan on a query of the wrong dimension,
    naming both dimensions, instead of scoring nulls into no hits."""
    q = [0.1] * 63
    df = knn(embeddings, q, metric="cosine", k=5, vec_col="embedding",
             id_col="vec_id", select=["vec_id", "score"])
    with pytest.raises(Exception, match=r"63 dimensions.*embedding vectors have 64"):
        df.collect()
