"""Recommendation / discovery / context / feedback scoring — pure column math.

Each operator composes per-example similarity columns (query vectors are
plan-time constants) into the reference's exact score formulas:

- avg_vector   : avg(pos) if no negatives else elementwise
                 ``pos + pos - neg`` of the two centroids, then ordinary KNN
                 (lib/collection/src/recommendations.rs:104-147).
- best_score   : max similarity to positives vs negatives;
                 ``if max_pos > max_neg: s(max_pos) else -s(max_neg)`` with
                 s = scaled fast sigmoid
                 (lib/segment/src/vector_storage/query/reco_query.rs:64-89;
                 fast sigmoid lib/common/common/src/math.rs:7-19).
- sum_scores   : sum(sim to positives) - sum(sim to negatives)
                 (reco_query.rs:115-133).
- discover     : rank = sum over pairs of sign(sim(pos)-sim(neg));
                 score = rank + scaled_sigmoid(sim(target))
                 (discover_query.rs:18-24,44-73).
- context      : sum over pairs of fast_sigmoid(min(sim(pos)-sim(neg)-eps, 0))
                 (context_query.rs:53-62; eps = f32::EPSILON).
- feedback     : a*sim(target) + sum(w_pair * (sim(pos)-sim(neg)))
                 (feedback_query.rs:199-226; w_pair = confidence^b * c,
                 passed pre-computed here).

The reference computes in f32; we compute in f64 (Spark doubles) — scores
are self-consistent with our DuckDB oracles.
"""

from __future__ import annotations

from typing import Any, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from qdrant_spark.filters import apply_filter
from qdrant_spark.functions.distances import distance_to_lit
from qdrant_spark.operators.knn import knn

F32_EPSILON = float(np.finfo(np.float32).eps)


def fast_sigmoid(x: Column) -> Column:
    return x / (F.lit(1.0) + F.abs(x))


def scaled_fast_sigmoid(x: Column) -> Column:
    return F.lit(0.5) * (fast_sigmoid(x) + F.lit(1.0))


def _sims(metric: str, vec_col: str, vectors: list[Sequence[float]]) -> list[Column]:
    return [distance_to_lit(metric, vec_col, v) for v in vectors]


def _np_fast_sigmoid(x):
    return x / (1.0 + np.abs(x))


def _np_scaled_fast_sigmoid(x):
    return 0.5 * (_np_fast_sigmoid(x) + 1.0)


def _arrow_compose_topk(df: DataFrame, vectors, compose, *, metric: str,
                        k: int, vec_col: str, id_col: str,
                        arrow_dispatch_bytes: int | None = None):
    """Arrow fast path shared by the best_score/sum_scores/discover/
    context/feedback scorers, a one-query ``blocks`` of the one Arrow
    score-and-top-k kernel (:func:`~qdrant_spark.operators.knn.
    arrow_topk`): each Arrow batch scores every example vector in a
    single BLAS call (:func:`~qdrant_spark.operators.knn.score_block`),
    then ``compose`` folds the per-example sims matrix into the
    operator's score in NumPy — the same per-example composition the
    reference applies after its batched sim computation (reco_query.rs:
    64-133, discover_query.rs:44-73). Returns (id, score) best-first, or
    None below the dispatch cutoff (the interpreted Column path wins on
    small corpora, exactly like ``knn()``); cutoff scales with the
    example count because the interpreted cost does.

    ``compose(S)``: (n, m) sims -> (n,) scores, larger-is-better (every
    operator in this family ranks score-desc).
    """
    from qdrant_spark.operators.knn import (
        ARROW_DISPATCH_BYTES, _plan_size_bytes)

    cutoff = (ARROW_DISPATCH_BYTES if arrow_dispatch_bytes is None
              else arrow_dispatch_bytes)
    m = max(1, len(vectors))
    if _plan_size_bytes(df) * m < cutoff:
        return None
    from pyspark.sql import types as T

    from qdrant_spark.operators.knn import arrow_matrix, arrow_topk, score_block

    Vm = np.asarray(vectors, dtype=np.float64)
    bV = df.sparkSession.sparkContext.broadcast(Vm)
    vnorm = np.linalg.norm(Vm, axis=1) if metric == "cosine" else None
    q0 = np.zeros(1, dtype=np.int64)

    def blocks(batch):
        ids = batch.column(0).to_numpy(zero_copy_only=False)
        M = arrow_matrix(batch.column(1), batch.num_rows).astype(np.float64, copy=False)
        S = score_block(M, bV.value, metric, qnorm=vnorm)
        # composed scores tie heavily (context clamps to 0.0 for most
        # points): the kernel's tie-exact cut keeps the low-id ones
        yield q0, ids, compose(S.T)[None, :]

    # "dot": the composed score ranks larger-better whatever ``metric``
    return arrow_topk(
        df.select(id_col, vec_col), blocks, metric="dot", k=k, qids=q0,
        qid_type=T.LongType(), qid_col="__q", id_col=id_col,
    ).select(id_col, "score")


def _topk(df: DataFrame, metric_like_larger_better: bool, k: int, id_col: str,
          vec_col: str, score_threshold: float | None = None) -> DataFrame:
    s = F.col("score").desc() if metric_like_larger_better else F.col("score").asc()
    if score_threshold is not None:
        df = df.filter(
            F.col("score") > score_threshold
            if metric_like_larger_better
            else F.col("score") < score_threshold
        )
    out_cols = [c for c in df.columns if c != vec_col]
    return df.select(*out_cols).orderBy(s, F.col(id_col).asc()).limit(k)


def recommend_avg_vector(
    points: DataFrame,
    positives: list[Sequence[float]],
    negatives: list[Sequence[float]] | None = None,
    *,
    metric: str = "cosine",
    k: int = 10,
    vec_col: str = "vec",
    id_col: str = "id",
    flt: dict[str, Any] | None = None,
    score_threshold: float | None = None,
) -> DataFrame:
    """avg_vector strategy -> one exact KNN against the merged centroid."""
    pos = np.asarray(positives, dtype=np.float64)
    avg_pos = pos.mean(axis=0)
    if negatives:
        neg = np.asarray(negatives, dtype=np.float64)
        query = avg_pos + avg_pos - neg.mean(axis=0)
    else:
        query = avg_pos
    return knn(
        points, query.tolist(), metric=metric, k=k, vec_col=vec_col, id_col=id_col,
        flt=flt, score_threshold=score_threshold,
    )


def recommend_best_score(
    points: DataFrame,
    positives: list[Sequence[float]],
    negatives: list[Sequence[float]] | None = None,
    *,
    metric: str = "cosine",
    k: int = 10,
    vec_col: str = "vec",
    id_col: str = "id",
    flt: dict[str, Any] | None = None,
    arrow_dispatch_bytes: int | None = None,
) -> DataFrame:
    df = apply_filter(points, flt).filter(F.col(vec_col).isNotNull())
    n_pos = len(positives)

    def compose(S):
        mp = S[:, :n_pos].max(axis=1)
        if S.shape[1] > n_pos:
            mn = S[:, n_pos:].max(axis=1)
            return np.where(mp > mn, _np_scaled_fast_sigmoid(mp),
                            -_np_scaled_fast_sigmoid(mn))
        return _np_scaled_fast_sigmoid(mp)

    out = _arrow_compose_topk(
        df, list(positives) + list(negatives or []), compose,
        metric=metric, k=k, vec_col=vec_col, id_col=id_col,
        arrow_dispatch_bytes=arrow_dispatch_bytes)
    if out is not None:
        return out
    max_pos = F.greatest(*_sims(metric, vec_col, positives)) if len(positives) > 1 else _sims(metric, vec_col, positives)[0]
    if negatives:
        neg_sims = _sims(metric, vec_col, negatives)
        max_neg = F.greatest(*neg_sims) if len(neg_sims) > 1 else neg_sims[0]
        score = F.when(
            max_pos > max_neg, scaled_fast_sigmoid(max_pos)
        ).otherwise(-scaled_fast_sigmoid(max_neg))
    else:
        score = scaled_fast_sigmoid(max_pos)
    df = df.withColumn("score", score)
    return _topk(df, True, k, id_col, vec_col)


def recommend_sum_scores(
    points: DataFrame,
    positives: list[Sequence[float]],
    negatives: list[Sequence[float]] | None = None,
    *,
    metric: str = "cosine",
    k: int = 10,
    vec_col: str = "vec",
    id_col: str = "id",
    flt: dict[str, Any] | None = None,
    arrow_dispatch_bytes: int | None = None,
) -> DataFrame:
    df = apply_filter(points, flt).filter(F.col(vec_col).isNotNull())
    n_pos = len(positives)

    def compose(S):
        return S[:, :n_pos].sum(axis=1) - S[:, n_pos:].sum(axis=1)

    out = _arrow_compose_topk(
        df, list(positives) + list(negatives or []), compose,
        metric=metric, k=k, vec_col=vec_col, id_col=id_col,
        arrow_dispatch_bytes=arrow_dispatch_bytes)
    if out is not None:
        return out
    score = sum(_sims(metric, vec_col, positives), F.lit(0.0))
    for s in _sims(metric, vec_col, negatives or []):
        score = score - s
    df = df.withColumn("score", score)
    return _topk(df, True, k, id_col, vec_col)


def discover(
    points: DataFrame,
    target: Sequence[float],
    pairs: list[tuple[Sequence[float], Sequence[float]]],
    *,
    metric: str = "cosine",
    k: int = 10,
    vec_col: str = "vec",
    id_col: str = "id",
    flt: dict[str, Any] | None = None,
    arrow_dispatch_bytes: int | None = None,
) -> DataFrame:
    df = apply_filter(points, flt).filter(F.col(vec_col).isNotNull())
    n_pairs = len(pairs)

    def compose(S):
        rank = np.zeros(S.shape[0])
        for i in range(n_pairs):
            rank += np.sign(S[:, 1 + 2 * i] - S[:, 2 + 2 * i])
        return rank + _np_scaled_fast_sigmoid(S[:, 0])

    vecs = [target] + [v for p in pairs for v in p]
    out = _arrow_compose_topk(
        df, vecs, compose, metric=metric, k=k, vec_col=vec_col,
        id_col=id_col, arrow_dispatch_bytes=arrow_dispatch_bytes)
    if out is not None:
        return out
    rank = F.lit(0)
    for pos, neg in pairs:
        ps = distance_to_lit(metric, vec_col, pos)
        ns = distance_to_lit(metric, vec_col, neg)
        rank = rank + F.when(ps > ns, 1).when(ps < ns, -1).otherwise(0)
    target_sim = distance_to_lit(metric, vec_col, target)
    df = df.withColumn("score", rank.cast("double") + scaled_fast_sigmoid(target_sim))
    return _topk(df, True, k, id_col, vec_col)


def context(
    points: DataFrame,
    pairs: list[tuple[Sequence[float], Sequence[float]]],
    *,
    metric: str = "cosine",
    k: int = 10,
    vec_col: str = "vec",
    id_col: str = "id",
    flt: dict[str, Any] | None = None,
    arrow_dispatch_bytes: int | None = None,
) -> DataFrame:
    df = apply_filter(points, flt).filter(F.col(vec_col).isNotNull())
    n_pairs = len(pairs)

    def compose(S):
        score = np.zeros(S.shape[0])
        for i in range(n_pairs):
            diff = S[:, 2 * i] - S[:, 2 * i + 1] - F32_EPSILON
            score += _np_fast_sigmoid(np.minimum(diff, 0.0))
        return score

    out = _arrow_compose_topk(
        df, [v for p in pairs for v in p], compose, metric=metric, k=k,
        vec_col=vec_col, id_col=id_col,
        arrow_dispatch_bytes=arrow_dispatch_bytes)
    if out is not None:
        return out
    score = F.lit(0.0)
    for pos, neg in pairs:
        ps = distance_to_lit(metric, vec_col, pos)
        ns = distance_to_lit(metric, vec_col, neg)
        diff = ps - ns - F.lit(F32_EPSILON)
        score = score + fast_sigmoid(F.least(diff, F.lit(0.0)))
    df = df.withColumn("score", score)
    return _topk(df, True, k, id_col, vec_col)


def relevance_feedback(
    points: DataFrame,
    target: Sequence[float],
    pairs: list[tuple[Sequence[float], Sequence[float], float]],
    *,
    a: float = 1.0,
    metric: str = "cosine",
    k: int = 10,
    vec_col: str = "vec",
    id_col: str = "id",
    flt: dict[str, Any] | None = None,
    arrow_dispatch_bytes: int | None = None,
) -> DataFrame:
    """pairs: (positive_vec, negative_vec, weight) with weight = conf^b * c."""
    df = apply_filter(points, flt).filter(F.col(vec_col).isNotNull())
    weights = [float(w) for _, _, w in pairs]

    def compose(S):
        score = float(a) * S[:, 0]
        for i, w in enumerate(weights):
            score = score + w * (S[:, 1 + 2 * i] - S[:, 2 + 2 * i])
        return score

    vecs = [target] + [v for pos, neg, _ in pairs for v in (pos, neg)]
    out = _arrow_compose_topk(
        df, vecs, compose, metric=metric, k=k, vec_col=vec_col,
        id_col=id_col, arrow_dispatch_bytes=arrow_dispatch_bytes)
    if out is not None:
        return out
    score = F.lit(a) * distance_to_lit(metric, vec_col, target)
    for pos, neg, w in pairs:
        ps = distance_to_lit(metric, vec_col, pos)
        ns = distance_to_lit(metric, vec_col, neg)
        score = score + F.lit(float(w)) * (ps - ns)
    df = df.withColumn("score", score)
    return _topk(df, True, k, id_col, vec_col)
