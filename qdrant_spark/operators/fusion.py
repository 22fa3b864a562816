"""Rank fusion operators: RRF and DBSF.

Rank-dependent scores MUST be computed on the globally merged, rank-ordered
result of each source (the reference defers fusion to collection level —
RescoreStages, lib/shard/src/query/planned_query.rs:62-101). In Spark that
means: each source DataFrame here is already a global top-k result (bounded),
and ranks are assigned with a window over the full source — which is exactly
the semantics Catalyst provides.

- RRF (lib/segment/src/common/reciprocal_rank_fusion.rs:32-100):
  contribution of a point at 0-based ``pos`` in a source with weight ``w``:
  ``1 / ((pos+1)/w + k - 1)``; k defaults to 2 (DEFAULT_RRF_K, :14);
  ``w <= 0`` contributes 0. Final score = sum over sources, descending.
- DBSF (lib/segment/src/common/score_fusion.rs:23-165): per source,
  normalize scores to [0,1] with extremes mean±3*stddev (sample stddev);
  single-element or zero-variance sources normalize to 0.5; weighted sum
  per id, descending.

Ties are broken by id ascending (reference "does not break ties"; we pin
determinism per FIXTURES.md oracle rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DEFAULT_RRF_K = 2


def rrf(
    sources: list[DataFrame],
    *,
    k: int = DEFAULT_RRF_K,
    weights: list[float] | None = None,
    orders: list[bool] | None = None,
    id_col: str = "id",
    qid_col: str | None = None,
    limit: int | None = None,
) -> DataFrame:
    """Reciprocal rank fusion of bounded per-source top-k DataFrames.

    Each source needs (id_col, score) [+ qid_col for batch mode]. Returns
    (qid?, id, score) with the fused score, best-first.
    """
    weights = weights or [1.0] * len(sources)
    orders = orders if orders is not None else [True] * len(sources)
    keys = ([qid_col] if qid_col else []) + [id_col]
    parts = []
    for src, w_, lb in zip(sources, weights, orders):
        # ONE projection per source (rank window + contribution inline):
        # select->withColumn->select costs three driver-side plan
        # re-analyses per leg — measured ~0.1 s/leg of pure py4j/analysis
        order = [
            F.col("score").desc() if lb else F.col("score").asc(),
            F.col(id_col).asc(),
        ]
        w = Window.partitionBy(*([qid_col] if qid_col else [])).orderBy(*order)
        pos = F.row_number().over(w) - 1
        contrib = (
            F.lit(0.0)
            if w_ <= 0.0
            else F.lit(1.0)
            / ((pos + 1).cast("double") / F.lit(float(w_)) + F.lit(float(k) - 1.0))
        )
        parts.append(src.select(*keys, contrib.alias("__rrf")))
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    out = unioned.groupBy(*keys).agg(F.sum("__rrf").alias("score"))
    out = out.orderBy(F.col("score").desc(), F.col(id_col).asc()) if not qid_col else out
    if limit:
        if qid_col:
            w = Window.partitionBy(qid_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
            out = out.withColumn("__rn", F.row_number().over(w)).filter(
                F.col("__rn") <= limit
            ).drop("__rn")
        else:
            out = out.limit(limit)
    return out


def rrf_hits(
    hit_lists: list[list[tuple]],
    *,
    k: int = DEFAULT_RRF_K,
    weights: list[float] | None = None,
    limit: int | None = None,
) -> list[tuple]:
    """RRF over already-collected, already-ranked hit lists — the driver
    finish of every planner fusion root (``QueryPlanner._fuse_root``).
    Each list is a bounded global top-k, best first in its own score
    direction (nearest first for a smaller-is-better metric), ties id
    asc: the ranking :func:`rrf` assigns with ``orders``. Only the
    position counts, not the score. Same formula as :func:`rrf`
    (reciprocal_rank_fusion.rs:32-100); returns [(id, score)] best-first,
    ties id-asc. Running this through Spark would spend ~1s of job
    overhead on <=legs*limit local rows — measured 1.3s for 4 legs of 100
    hits vs <1ms here."""
    weights = weights or [1.0] * len(hit_lists)
    acc: dict = {}
    for hits, w_ in zip(hit_lists, weights):
        for pos, (pid, _score) in enumerate(hits):
            c = 0.0 if w_ <= 0.0 else 1.0 / ((pos + 1) / float(w_) + (k - 1.0))
            acc[pid] = acc.get(pid, 0.0) + c
    out = sorted(acc.items(), key=lambda t: (-t[1], t[0]))
    return out[:limit] if limit else out


def dbsf_hits(
    hit_lists: list[list[tuple]],
    *,
    weights: list[float] | None = None,
    orders: list[bool] | None = None,
    limit: int | None = None,
) -> list[tuple]:
    """DBSF over already-collected hit lists (driver-side twin of
    :func:`dbsf`, score_fusion.rs:23-165): per source normalize to [0,1]
    with extremes mean±3*sample-stddev, single-element / zero-variance
    sources normalize to 0.5, weighted sum per id. ``orders`` as in
    :func:`dbsf`: smaller-is-better sources are negated first."""
    import math

    weights = weights or [1.0] * len(hit_lists)
    orders = orders if orders is not None else [True] * len(hit_lists)
    acc: dict = {}
    for hits, w_, lb in zip(hit_lists, weights, orders):
        scores = [float(s) if lb else -float(s) for _, s in hits]
        n = len(scores)
        if n == 0:
            continue
        if n == 1:
            normed = [0.5]
        else:
            mean = sum(scores) / n
            var = sum((s - mean) ** 2 for s in scores) / (n - 1)
            sd = math.sqrt(var)
            if sd == 0.0:
                normed = [0.5] * n
            else:
                lo, hi = mean - 3 * sd, mean + 3 * sd
                normed = [(s - lo) / (hi - lo) for s in scores]
        for (pid, _), nv in zip(hits, normed):
            acc[pid] = acc.get(pid, 0.0) + nv * float(w_)
    out = sorted(acc.items(), key=lambda t: (-t[1], t[0]))
    return out[:limit] if limit else out


def dbsf(
    sources: list[DataFrame],
    *,
    weights: list[float] | None = None,
    orders: list[bool] | None = None,
    id_col: str = "id",
    qid_col: str | None = None,
    limit: int | None = None,
) -> DataFrame:
    """Distribution-based score fusion of bounded per-source results.

    ``orders[i]``: True if source i's scores are larger-is-better. The
    reference fuses internal scores that are uniformly larger-is-better
    (Euclid is negated internally — lib/segment/src/spaces/metric.rs), so
    smaller-is-better sources are negated before normalization.
    """
    weights = weights or [1.0] * len(sources)
    orders = orders if orders is not None else [True] * len(sources)
    keys = ([qid_col] if qid_col else []) + [id_col]
    parts = []
    for src, w_, lb in zip(sources, weights, orders):
        w = Window.partitionBy(*([qid_col] if qid_col else []))
        s = F.col("score").cast("double")
        if not lb:
            s = -s
        cnt = F.count("*").over(w)
        mean = F.avg(s).over(w)
        sd = F.stddev_samp(s).over(w)
        lo, hi = mean - 3 * sd, mean + 3 * sd
        normed = (
            F.when(cnt == 1, F.lit(0.5))
            .when(sd == 0, F.lit(0.5))  # min == max guard (score_fusion.rs:97-101)
            .otherwise((s - lo) / (hi - lo))
        )
        parts.append(
            src.select(*keys, (normed * F.lit(float(w_))).alias("__norm"))
        )
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    out = unioned.groupBy(*keys).agg(F.sum("__norm").alias("score"))
    if not qid_col:
        out = out.orderBy(F.col("score").desc(), F.col(id_col).asc())
    if limit:
        if qid_col:
            win = Window.partitionBy(qid_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
            out = out.withColumn("__rn", F.row_number().over(win)).filter(
                F.col("__rn") <= limit
            ).drop("__rn")
        else:
            out = out.limit(limit)
    return out
