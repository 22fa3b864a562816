"""Multivector (late-interaction / ColBERT-style) KNN at corpus scale.

MaxSim semantics (MultiVectorComparator::MaxSim, lib/segment/src/types.rs:
2055-2084; scorers lib/segment/src/vector_storage/query_scorer/
multi_metric_query_scorer.rs): score(Q, D) = sum over q in Q of
max over d in D of sim(q, d).

The Column implementation (functions/distances.maxsim) nests two
higher-order functions and runs interpreted — fine for a rescore of a
bounded candidate set, wrong for a corpus scan. This operator is the scan
path: each Arrow batch's doc token vectors flatten into a single
(total_tokens, dim) matrix, one BLAS matmul against the query token
matrix, and `np.maximum.reduceat` over the Arrow list offsets computes
the per-doc segment max — no per-doc python loop. Every scorer here is a
``blocks(batch)`` function of the one Arrow score-and-top-k kernel
(:func:`~qdrant_spark.operators.knn.arrow_topk`), which does the cut,
the dedup and the finish.
"""

from __future__ import annotations

from typing import Any, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def maxsim_knn(
    points: DataFrame,
    query_multivector: Sequence[Sequence[float]],
    *,
    k: int = 10,
    metric: str = "dot",
    mv_col: str = "mv",
    id_col: str = "id",
    dedup_ids: bool = False,
) -> DataFrame:
    """Top-k by MaxSim of an ``array<array<float>>`` column against a query
    multivector, through the one Arrow score-and-top-k kernel
    (:func:`~qdrant_spark.operators.knn.arrow_topk`, one query: a top-k
    sort finish, no shuffle). Returns (id, score) best-first. ``metric``:
    dot or cosine (both larger-is-better, as the reference restricts
    multivectors to sim metrics). ``dedup_ids`` keeps one row per id (for
    the invlist layout, where a doc is stored once per token cluster and
    every copy scores the same)."""
    from qdrant_spark.operators.knn import arrow_topk

    if metric not in ("dot", "cosine"):
        raise ValueError("maxsim supports dot/cosine")
    cosine = metric == "cosine"
    Qm = np.asarray([list(t) for t in query_multivector], dtype=np.float64)
    if cosine:
        Qm = Qm / np.linalg.norm(Qm, axis=1, keepdims=True)
    sc = points.sparkSession.sparkContext
    bq = sc.broadcast(Qm)
    q0 = np.zeros(1, dtype=np.int64)

    # one filter, one select: each DataFrame op re-analyzes the plan on
    # the driver, a fixed cost every single-query call pays
    sel = points.filter(F.col(mv_col).isNotNull() & (F.size(mv_col) > 0)) \
        .select(id_col, mv_col)

    def blocks(batch):
        Q = bq.value
        ids = batch.column(0).to_numpy(zero_copy_only=False)
        Tm, outer_off = _mv_tokens(batch.column(1), Q.shape[1], cosine)
        S = Tm @ Q.T                            # (total_tokens, tq)
        starts = outer_off[:-1] - outer_off[0]
        # segment max per doc per query token, then sum over qtokens
        # reduceat on an empty segment would grab the next one; empty
        # docs were filtered out Spark-side (size > 0)
        assert (np.diff(outer_off) > 0).all()
        M = np.maximum.reduceat(S, starts, axis=0)
        yield q0, ids, M.sum(axis=1)[None, :]

    return arrow_topk(
        sel, blocks, metric="dot", k=k, qids=q0, qid_type=T.LongType(),
        qid_col="__qid", id_col=id_col, dedup_ids=dedup_ids,
    ).select(id_col, "score")


def _query_tokens(query_multivector, metric: str):
    """One query multivector as a (tokens, dim) float64 matrix, each
    token unit-normalized for cosine (a zero token stays zero)."""
    Qm = np.asarray([list(t) for t in query_multivector], dtype=np.float64)
    if metric == "cosine":
        n = np.linalg.norm(Qm, axis=1, keepdims=True)
        n[n == 0] = 1.0
        Qm = Qm / n
    return Qm


def _mv_tokens(col, dim: int, cosine: bool):
    """Every doc's token vectors of an Arrow ``array<array<float>>``
    column stacked into one (total_tokens, dim) float64 matrix —
    unit-normalized with ``cosine`` (a zero token stays zero) — and the
    per-doc token offsets."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    outer_off = col.offsets.to_numpy(zero_copy_only=False)
    flat = col.flatten().flatten().to_numpy(zero_copy_only=False)
    Tm = flat.reshape(-1, dim).astype(np.float64, copy=False)
    if cosine:
        norms = np.linalg.norm(Tm, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        Tm = Tm / norms
    return Tm, outer_off


# ---------------------------------------------------------------------------
# Coarse stage: token-level IVF (PLAID-style) + exact MaxSim over candidates
# ---------------------------------------------------------------------------

from dataclasses import dataclass  # noqa: E402


@dataclass
class MaxSimIvf:
    """Token-cluster index for pruned MaxSim. ``tokens`` is the exploded
    (id, __cluster) frame — one row per stored token vector, clustered in
    TOKEN space; ``points`` is the original multivector corpus for the
    exact rescore. At scale persist ``tokens`` partitioned by
    ``__cluster`` (only the id column is ever read from it) and the probe
    becomes directory pruning."""

    tokens: DataFrame      # (id, __cluster), one row per token
    centroids: np.ndarray  # (n_clusters, dim) token-space centroids
    points: DataFrame
    mv_col: str
    id_col: str
    #: optional invlist layout from :func:`persist_maxsim_ivf_points`:
    #: the FULL multivector rows stored once per distinct (doc, token
    #: cluster), parquet-partitioned by ``__cluster`` — probing then
    #: prunes the float-token SCAN at the file level instead of only the
    #: BLAS work (a candidate semi-join against a flat table still
    #: decodes every row's tokens; decode dominated the pruned route at
    #: 2M docs). The PLAID/ColBERTv2 posting layout.
    clustered_points: DataFrame | None = None
    #: optional invlist layout of the composed route's token CODES from
    #: :func:`persist_maxsim_quant_codes`: one (id, code) row per
    #: distinct (doc, token cluster), partitioned by ``__cluster`` — the
    #: composed coarse stage then reads ONLY the probed clusters' code
    #: FILES instead of semi-joining the flat codes table (the r13
    #: decode-dominance finding applied to the narrow side; the win is
    #: smaller than the float invlist's but the same shape). Only the
    #: composed route (maxsim_knn_quant_ivf) reads it.
    clustered_codes: DataFrame | None = None
    #: memoized per-cluster token row counts (index METADATA — the
    #: partition sizes of the persisted layout): one narrow count over
    #: the id-only token table on first use, then free. Feeds the
    #: membership-fraction estimate (:func:`maxsim_membership_fraction`)
    #: that drives ``MaxSimRoute.degrade_membership``.
    cluster_counts: dict[int, int] | None = None


#: Exact-vs-pruned crossover for a ROUTED MaxSim leaf, in DOCS. The bench
#: measured the pruned path 3.4x SLOWER than the exact one-pass BLAS scan
#: at 512k docs x 8 tokens (maxsim_ivf_xxl_disk 2.12s vs maxsim_xxl_disk
#: 0.62s, r10) — the candidate stage's posexplode + two aggregations over
#: probed token rows cost more than the scan they avoid while the corpus
#: still fits memory bandwidth. The pruned plan's win is IO at scale: an
#: id-only token table (~12 B/token, partition-pruned to nprobe/K) plus a
#: capped exact stage, vs full float tokens (4*dim B/token). Default sits
#: 4x above the measured break-even side; tune per deployment via
#: MaxSimRoute.full_scan_threshold (0 = always prune, the pre-r11
#: behavior). The same crossover idea as dispatch.FULL_SCAN_THRESHOLD for
#: dense leaves, calibrated for MaxSim's heavier candidate stage.
#:
#: The pruned side is measured too, on data where pruning CAN pay: the
#: bench appendix's maxsim_clustered_pruning corpus (512k docs whose 8
#: tokens each come from one of 64 topic blobs — the topically-coherent
#: shape of real ColBERT corpora, and the structured-data recall setup of
#: the reference's multivector_hnsw_test.rs). There nprobe=4 membership
#: admits ~5-14% of docs, and with the INVLIST layout
#: (:func:`persist_maxsim_ivf_points` — probing prunes the float SCAN at
#: the file level, not just the BLAS) the route beats the exact scan at
#: recall@10 = 1.0: 512k docs 0.70s vs exact 0.96s, 2M docs 1.11s vs
#: 2.75s (r13, settled 32-cpu box; bench.py
#: maxsim_{exact,ivf,ivf_invlist,sq_ivf}_clustered_xxl_disk). Without
#: the layout, membership pruning saves BLAS but still DECODES every
#: row's tokens through the semi-join, and the page-cached exact scan
#: wins at every buildable size. The headline mv corpus (near-uniform
#: token slices, ~99.6% membership) is the adversarial bound, not the
#: typical case.
MAXSIM_FULL_SCAN_THRESHOLD = 2_000_000


@dataclass
class MaxSimRoute:
    """A registered multivector coarse index plus its routing knobs, as
    passed to ``QueryPlanner(indexes={vec_col: [route]})`` — the
    declared-index analogue the reference gets from building HNSW over
    multivector storage (multivector_hnsw_test.rs). ``nprobe ==
    n_clusters`` with ``candidates=None`` reproduces the exact scan.

    ``full_scan_threshold`` (docs) is the exact-vs-pruned dispatch
    crossover: corpora below it take the exact Arrow scan even when the
    route is registered — None means the module default
    :data:`MAXSIM_FULL_SCAN_THRESHOLD`, 0 disables the check (always
    prune). ``n_docs`` caches the corpus size for that check; the
    planner counts once and memoizes when unset."""

    index: MaxSimIvf
    nprobe: int = 4
    candidates: int | None = None
    full_scan_threshold: int | None = None
    n_docs: int | None = None
    #: pruned-vs-pruned dispatch: when the index carries the INVLIST
    #: layout, the planner takes the plain invlist float route even if
    #: token CODES are also declared — at every measured size the
    #: composed probe→coarse-over-codes→rescore ladder loses to reading
    #: the probed partitions' floats directly (r13 idle-box: composed
    #: 1.83 s vs invlist 0.53 s at 2M docs, 1.69 vs 0.66 s at 512k,
    #: recall@10 = 1.0 both) — the coarse code stage only plausibly pays
    #: when the probed float partitions are cold-IO-bound and the 1-4
    #: bit/dim codes are not. Set True to request the composed ladder
    #: anyway for that regime; without the invlist layout the composed
    #: route remains the default (codes beat the FLAT float semi-join).
    prefer_composed: bool = False
    #: data-dependent degrade of the composed ladder (r15, opt-in): when
    #: the ESTIMATED probe-union membership fraction of a request is >=
    #: this value, the candidate stage would admit (nearly) every doc —
    #: it prunes nothing while its pair fan-out and per-pair coarse
    #: kernel cost more than the quant-only fused scan they wrap (the
    #: bench's adversarial corpus: ~99.6% membership; the forced fused
    #: candidate ladder measured 8.5 s vs ~3 s for the quant-only fuse
    #: on the same 16-query batch). The planner then degrades those
    #: requests to the quant-only coarse+rescore
    #: (:func:`maxsim_knn_quant` / the fused
    #: ``maxsim_quant_coarse_batch`` group). The estimate
    #: (:func:`maxsim_membership_fraction`) is metadata-only (memoized
    #: per-cluster token counts) and errs toward KEEPING the composed
    #: route on topically-clustered corpora, where true membership sits
    #: far below the independence estimate. None (the default) never
    #: degrades, so existing declared plans are unchanged unless a route
    #: opts in. A PLAID ``candidates`` cap is dropped by the degrade
    #: (its centroid-resolution ranking is pointless when membership ~1
    #: makes its input the whole corpus), so degraded requests can only
    #: gain recall.
    degrade_membership: float | None = None

    @property
    def id_col(self) -> str:
        return self.index.id_col


def build_maxsim_ivf(
    points: DataFrame,
    *,
    n_clusters: int = 16,
    mv_col: str = "mv",
    id_col: str = "id",
    seed: int = 42,
    fit_fraction: float | None = None,
) -> MaxSimIvf:
    """Cluster the corpus's TOKEN vectors (explode + KMeans) — the
    ColBERTv2/PLAID centroid structure. The reference reaches the same
    goal by building HNSW over the multivector storage
    (multivector_hnsw_test.rs; MaxSim comparator types.rs:2080-2084):
    either way a ColBERT-style query prunes instead of scanning every
    doc's tokens. A doc is a candidate iff it owns at least one token in
    a probed cluster, which is exactly the condition under which it can
    contribute a large per-query-token max — so recall tracks nprobe far
    better than pooled-vector blocking."""
    from qdrant_spark.operators.ann import build_ivf

    exploded = points.filter(
        F.col(mv_col).isNotNull() & (F.size(mv_col) > 0)
    ).select(id_col, F.explode(mv_col).alias("__tok"))
    ivf = build_ivf(exploded, n_clusters=n_clusters, vec_col="__tok",
                    id_col=id_col, seed=seed, fit_fraction=fit_fraction)
    return MaxSimIvf(
        tokens=ivf.assigned.select(id_col, "__cluster"),
        centroids=ivf.centroids, points=points,
        mv_col=mv_col, id_col=id_col)


def persist_maxsim_ivf(index: MaxSimIvf, path: str) -> MaxSimIvf:
    """Materialize the (id, __cluster) token frame parquet-partitioned by
    ``__cluster`` — probing then reads only the probed clusters' FILES
    of an id-only table (the multivector analogue of ann.persist_ivf;
    lazily-computed assignments would re-run the assignment UDF over
    every token on every query)."""
    index.tokens.write.mode("overwrite").partitionBy("__cluster") \
        .parquet(path)
    spark = index.tokens.sparkSession
    return MaxSimIvf(
        tokens=spark.read.parquet(path),
        centroids=index.centroids, points=index.points,
        mv_col=index.mv_col, id_col=index.id_col)


def persist_maxsim_ivf_points(index: MaxSimIvf, path: str) -> MaxSimIvf:
    """Materialize the INVLIST layout: the full multivector rows joined
    to their distinct (id, __cluster) token memberships and
    parquet-partitioned by ``__cluster`` — each doc stored once per
    distinct cluster its tokens hit (≤ tokens/doc copies; ~1 on
    topically-coherent corpora). Probing then reads ONLY the probed
    clusters' FILES of the float tokens, the layout the reference's
    ColBERTv2/PLAID lineage stores its token postings in — a candidate
    semi-join against a flat table decodes every row's tokens, so
    membership pruning alone saved BLAS but not IO (measured: no win at
    2M docs until this layout). Candidates stay exact: a doc is scored
    off any stored copy (identical score) and deduped on the narrow
    (id, score) frame.

    The layout FREEZES the float corpus at persist time: the invlist
    route scores these stored copies while the flat route reads the
    live ``points`` frame, so an in-place vector mutation makes the two
    routes diverge until the layout re-persists. Lifecycle callers go
    through ``plans.maintenance.ensure_index("maxsim", ...)``, whose
    ``corpus_signature`` + content probe rebuilds on count-stable
    drift; the streaming twin (streaming.serve.MaxSimInvlistSink)
    rewrites copies in the same commit and cannot go stale."""
    dup = index.tokens.select(index.id_col, "__cluster").distinct()
    (index.points.join(dup, index.id_col)
        .write.mode("overwrite").partitionBy("__cluster").parquet(path))
    spark = index.points.sparkSession
    from dataclasses import replace

    return replace(index, clustered_points=spark.read.parquet(path))


def persist_maxsim_quant_codes(index: MaxSimIvf, qidx,
                               path: str) -> MaxSimIvf:
    """Materialize the composed route's CODES invlist: the quantized
    token codes (any kind — the qidx's code frame) joined to their
    distinct (id, __cluster) memberships and parquet-partitioned by
    ``__cluster``, one copy per distinct cluster a doc's tokens hit.
    The composed coarse stage (:func:`maxsim_knn_quant_ivf`) then reads
    ONLY the probed clusters' code FILES — membership needs no separate
    token-table scan and the flat-codes semi-join disappears (the same
    layout treatment r13 gave the float rescore side; reference lineage
    is the same ColBERTv2/PLAID posting layout, code-width compressed).
    Duplicate copies score identically and dedup inside the coarse
    kernel. Returns the route index re-pointed at the layout."""
    from dataclasses import replace

    dup = index.tokens.select(index.id_col, "__cluster").distinct()
    if index.id_col != qidx.id_col:
        dup = dup.withColumnRenamed(index.id_col, qidx.id_col)
    (qidx.codes.join(dup, qidx.id_col)
        .write.mode("overwrite").partitionBy("__cluster").parquet(path))
    spark = qidx.codes.sparkSession
    return replace(index, clustered_codes=spark.read.parquet(path))


def maxsim_knn_ivf(
    index: MaxSimIvf,
    query_multivector: Sequence[Sequence[float]],
    *,
    k: int = 10,
    nprobe: int = 2,
    metric: str = "dot",
    candidates: int | None = None,
) -> DataFrame:
    """Pruned MaxSim: each QUERY token probes its ``nprobe`` nearest
    token-space centroids (a driver-side argsort over the small centroid
    matrix); candidate docs = distinct ids owning a token in the probed
    union (a scan of the narrow (id, __cluster) frame — partition-pruned
    when persisted by cluster); the exact Arrow MaxSim scan then runs
    over ONLY the candidates via a semi-join. With
    ``nprobe == n_clusters`` and ``candidates=None`` every doc is a
    candidate and the result equals the full scan exactly.

    ``candidates`` adds the PLAID stage-2 cap: probed token rows are
    scored at CENTROID resolution (each row contributes the max over
    query tokens of q·centroid — one literal-array lookup per row,
    codegen'd), docs rank by their summed approximate contribution, and
    only the top ``candidates`` docs reach the exact scan. This is what
    makes the probe pay when corpora have many tokens per doc spread
    across clusters: membership alone barely prunes, the cap bounds the
    exact stage to candidates/N of the corpus regardless."""
    if index.clustered_points is not None:
        # invlist layout: the probe IS the scan — read only the probed
        # clusters' files of the float tokens (directory pruning), score
        # every stored copy, dedup the narrow (id, score) frame. Same
        # candidates as the membership semi-join, bit-for-bit.
        probes = _probe_clusters(index, query_multivector,
                                 nprobe=nprobe, metric=metric)
        src = (index.clustered_points
               .filter(F.col("__cluster").isin(probes))
               .drop("__cluster"))
        if candidates is not None:
            cand_ids = _maxsim_ivf_candidates(
                index, query_multivector, nprobe=nprobe, metric=metric,
                candidates=candidates)
            src = src.join(F.broadcast(cand_ids), index.id_col,
                           "left_semi")
        return maxsim_knn(src, query_multivector, k=k, metric=metric,
                          mv_col=index.mv_col, id_col=index.id_col,
                          dedup_ids=True)
    cand_ids = _maxsim_ivf_candidates(index, query_multivector,
                                      nprobe=nprobe, metric=metric,
                                      candidates=candidates)
    cand = _semi_join_candidates(index.points, cand_ids, index.id_col,
                                 bounded=candidates is not None)
    return maxsim_knn(cand, query_multivector, k=k, metric=metric,
                      mv_col=index.mv_col, id_col=index.id_col)


#: Cap (in ids) under which a candidate-id frame broadcasts into its
#: semi-join against the float-token / code table. Catalyst can't
#: estimate the DISTINCT over probed token rows, so without the hint it
#: plans a SortMergeJoin that SHUFFLES the multivector column — measured
#: 12-36s vs the 3.1s exact scan at 2M docs on the clustered bench
#: corpus (r13), while the broadcast plan streams the big side map-only.
#: AQE can't save it: both child shuffles materialize before the join
#: re-plans. 8M ids ≈ 64 MB broadcast; membership sets bigger than that
#: mean the probe isn't pruning, which is exactly when the planner's
#: MAXSIM_FULL_SCAN_THRESHOLD crossover prefers the exact scan anyway.
MAXSIM_BROADCAST_IDS_MAX = 8_000_000


def _semi_join_candidates(big: DataFrame, cand_ids: DataFrame,
                          id_col: str, *, bounded: bool) -> DataFrame:
    """Semi-join ``big`` to a candidate-id frame without ever shuffling
    ``big``: broadcast the ids when their count is known-bounded (a
    PLAID cap / top-k limit) or measured under
    :data:`MAXSIM_BROADCAST_IDS_MAX` (one narrow count over the
    partition-pruned id-only table — sub-second where the avoided
    shuffle is tens of seconds)."""
    if bounded or cand_ids.count() <= MAXSIM_BROADCAST_IDS_MAX:
        cand_ids = F.broadcast(cand_ids)
    return big.join(cand_ids, id_col, "left_semi")


def _probe_clusters(index: MaxSimIvf, query_multivector, *,
                    nprobe: int, metric: str, return_q: bool = False):
    """Per-query-token probe: the ``nprobe`` centroid-nearest token
    clusters per token, unioned (a driver-side argsort over the small
    centroid matrix). Shared by the semi-join candidate stage and the
    invlist scan path."""
    Qm = np.asarray([list(t) for t in query_multivector], dtype=np.float64)
    if metric == "cosine":
        n = np.linalg.norm(Qm, axis=1, keepdims=True)
        n[n == 0] = 1.0
        Qm = Qm / n
    # (tq, n_clusters) squared distances, top-nprobe per query token
    d2 = ((Qm[:, None, :] - index.centroids[None, :, :]) ** 2).sum(axis=2)
    per_tok = np.argsort(d2, axis=1)[:, :nprobe]
    probes = sorted({int(c) for row in per_tok for c in row})
    return (Qm, probes) if return_q else probes


def maxsim_membership_fraction(route: "MaxSimRoute", query_multivector,
                               *, metric: str = "dot") -> float:
    """Estimated fraction of docs owning >=1 token in the query's probe
    union — the quantity that decides whether the composed ladder's
    candidate stage prunes anything (see
    ``MaxSimRoute.degrade_membership``). Metadata-only: per-cluster
    token ROW counts of the id-only token table (memoized on the INDEX,
    so per-request routes over a long-lived index pay the one
    partition-column count job once) give
    the probed token mass m = probed_tokens/total_tokens, and with t̄ =
    total_tokens/n_docs tokens per doc the independence estimate is
    1 - (1-m)^t̄. Exact when doc tokens scatter independently across
    clusters (the near-uniform regime the degrade targets; bench mv
    corpus: est 0.996 vs measured ~0.996); topical corpora concentrate a
    doc's tokens in few clusters, which can only LOWER true membership
    relative to the probed mass spread — the estimate stays high only
    when the probes genuinely cover the corpus."""
    idx = route.index
    if idx.cluster_counts is None:
        idx.cluster_counts = {
            int(r["__cluster"]): int(r["cnt"])
            for r in idx.tokens.groupBy("__cluster")
            .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    total = float(sum(idx.cluster_counts.values()))
    if total <= 0:
        return 0.0
    if route.n_docs is None:
        route.n_docs = idx.points.count()
    if not route.n_docs:
        return 0.0
    probes = _probe_clusters(idx, query_multivector,
                             nprobe=route.nprobe, metric=metric)
    mass = sum(idx.cluster_counts.get(int(c), 0) for c in probes) / total
    tbar = total / float(route.n_docs)
    est = 1.0 - (1.0 - min(1.0, mass)) ** tbar
    return float(min(1.0, max(0.0, est)))


def _maxsim_ivf_candidates(
    index: MaxSimIvf,
    query_multivector: Sequence[Sequence[float]],
    *,
    nprobe: int = 2,
    metric: str = "dot",
    candidates: int | None = None,
) -> DataFrame:
    """The candidate stage of :func:`maxsim_knn_ivf`, factored so the
    composed quantized route shares it: per-query-token probe, probed
    token membership (directory-pruned on the persisted layout), and the
    optional PLAID centroid-resolution cap. Returns the candidate-id
    frame."""
    Qm, probes = _probe_clusters(index, query_multivector,
                                 nprobe=nprobe, metric=metric,
                                 return_q=True)
    matched = index.tokens.filter(F.col("__cluster").isin(probes))
    if candidates is None:
        cand_ids = matched.select(index.id_col).distinct()
    else:
        # centroid-resolution MaxSim (ColBERTv2/PLAID candidate scoring):
        # approx(doc) = sum over QUERY tokens of max over the doc's
        # probed token rows of q_i · centroid(row). The per-cluster
        # q-score arrays ship as ONE map literal over the <=tq*nprobe
        # probed clusters; the per-(doc, q_i) maxes compute as tq max
        # aggregates in ONE groupBy on id — r11: was posexplode + two
        # aggregations, which shuffled tq x the probed token rows and
        # made the candidate stage the measured bottleneck of this plan.
        tq = Qm.shape[0]
        S = Qm @ index.centroids.T  # (tq, n_clusters)
        flat = []
        for c in probes:
            flat.append(F.lit(int(c)))
            flat.append(F.lit([float(x) for x in S[:, c]]))
        score_arr = F.element_at(F.create_map(*flat),
                                 F.col("__cluster").cast("int"))
        per_q = [F.max(F.element_at(F.col("__qs"), i + 1)).alias(f"__m{i}")
                 for i in range(tq)]
        total = per_q and sum(
            (F.col(f"__m{i}") for i in range(1, tq)),
            F.col("__m0"))
        cand_ids = (matched
                    .select(index.id_col, score_arr.alias("__qs"))
                    .groupBy(index.id_col)
                    .agg(*per_q)
                    .select(index.id_col, total.alias("__s"))
                    .orderBy(F.col("__s").desc(),
                             F.col(index.id_col).asc())
                    .limit(int(candidates))
                    .select(index.id_col))
    return cand_ids


def maxsim_knn_quant_ivf(
    route: MaxSimIvf,
    qidx,
    query_multivector: Sequence[Sequence[float]],
    *,
    k: int = 10,
    nprobe: int = 2,
    metric: str = "dot",
    candidates: int | None = None,
    oversampling: float | None = None,
    rescore: bool = True,
) -> DataFrame:
    """COMPOSED pruned + quantized MaxSim (r12 — the multivector twin
    of quantize.quant_ivf_search, and the full ColBERTv2/PLAID ladder):
    (1) each query token probes its nearest token clusters and candidate
    docs come off the id-only cluster-partitioned token table
    (directory pruning), optionally capped at centroid resolution;
    (2) the coarse MaxSim scan runs over ONLY the candidates' QUANTIZED
    token codes (any kind — the id semi-join lands on the 1-4 bit/dim
    table instead of the float tokens); (3) the exact rescore touches
    the ``k*oversampling`` survivors' float tokens. With
    ``nprobe == n_clusters``, no cap and ample oversampling the result
    equals the exact scan. The reference reaches the same composition
    with HNSW built over quantized multivector storage
    (hnsw.rs quantized scorer path; quantized_vectors.rs)."""
    from dataclasses import replace

    if metric not in ("dot", "cosine"):
        raise ValueError("maxsim supports dot/cosine")
    coarse_dedup = False
    if route.clustered_codes is not None:
        # CODES invlist (r14): the probed partitions' code FILES are
        # exactly the membership candidates — no token-table scan, no
        # flat-codes semi-join; a PLAID cap still ranks candidates at
        # centroid resolution and broadcasts the bounded id cut
        probes = _probe_clusters(route, query_multivector,
                                 nprobe=nprobe, metric=metric)
        src = (route.clustered_codes
               .filter(F.col("__cluster").isin(probes))
               .drop("__cluster"))
        if candidates is not None:
            cand_ids = _maxsim_ivf_candidates(
                route, query_multivector, nprobe=nprobe, metric=metric,
                candidates=candidates)
            if route.id_col != qidx.id_col:
                cand_ids = cand_ids.withColumnRenamed(route.id_col,
                                                      qidx.id_col)
            src = src.join(F.broadcast(cand_ids), qidx.id_col,
                           "left_semi")
        pruned = replace(qidx, codes=src)
        coarse_dedup = True  # one code copy per (doc, probed cluster)
    else:
        cand_ids = _maxsim_ivf_candidates(route, query_multivector,
                                          nprobe=nprobe, metric=metric,
                                          candidates=candidates)
        if route.id_col != qidx.id_col:
            cand_ids = cand_ids.withColumnRenamed(route.id_col,
                                                  qidx.id_col)
        pruned = replace(
            qidx, codes=_semi_join_candidates(
                qidx.codes, cand_ids, qidx.id_col,
                bounded=candidates is not None))
    over = float(qidx.oversampling if oversampling is None
                 else oversampling)
    n_coarse = max(k, int(np.ceil(k * over)))
    coarse = maxsim_quant_coarse_batch(pruned, [query_multivector],
                                       n_coarse, metric=metric,
                                       dedup_ids=coarse_dedup)
    if not rescore:
        return (coarse.filter(F.col("rank") <= k)
                .orderBy("rank").select(qidx.id_col, "score"))
    top_ids = F.broadcast(coarse.select(qidx.id_col))
    if route.clustered_points is not None:
        # invlist rescore (r13): the survivors all sit inside the probed
        # clusters (top ⊆ candidates ⊆ probes), so the float reads prune
        # to the probed partitions' FILES instead of decoding the whole
        # corpus through the semi-join; duplicate storage copies score
        # identically and dedup on the narrow (id, score) frame.
        probes = _probe_clusters(route, query_multivector,
                                 nprobe=nprobe, metric=metric)
        src = (route.clustered_points
               .filter(F.col("__cluster").isin(probes))
               .drop("__cluster"))
        # the invlist carries the ROUTE's column names — align them with
        # the quant index's when the two were built with different ones
        if route.id_col != qidx.id_col:
            src = src.withColumnRenamed(route.id_col, qidx.id_col)
        if route.mv_col != qidx.mv_col:
            src = src.withColumnRenamed(route.mv_col, qidx.mv_col)
        cand = src.join(top_ids, qidx.id_col, "left_semi")
        return maxsim_knn(cand, query_multivector, k=k, metric=metric,
                          mv_col=qidx.mv_col, id_col=qidx.id_col,
                          dedup_ids=True)
    cand = qidx.points.join(top_ids, qidx.id_col, "left_semi")
    return maxsim_knn(cand, query_multivector, k=k, metric=metric,
                      mv_col=qidx.mv_col, id_col=qidx.id_col)


# ---------------------------------------------------------------------------
# Quantized multivector storage: SQ-coded tokens + exact MaxSim rescore
# ---------------------------------------------------------------------------

@dataclass
class MaxSimSq:
    """Scalar-quantized multivector storage — the reference quantizes
    multivector segments with the same QuantizationConfig machinery as
    dense ones (quantized_vectors.rs is vector-kind-agnostic; the HNSW
    searches quantized codes and rescores originals). ``codes`` holds
    ``__msq`` (array<array<tinyint>>): each token int8-affine-encoded
    with shared per-dimension clip bounds — the coarse MaxSim scan reads
    1 B/dim instead of 4, and only the oversampled candidate docs touch
    the full-precision tokens."""

    codes: DataFrame       # (id, __msq)
    lo: np.ndarray
    hi: np.ndarray
    points: DataFrame      # full-precision mv corpus for the rescore
    mv_col: str
    id_col: str
    #: default oversampling when neither the declared config nor the
    #: per-request SearchParams.quantization sets one (same posture as
    #: quantize._QUANT_OVERSAMPLING["scalar"])
    oversampling: float = 4.0
    #: exact-vs-quantized dispatch crossover in DOCS, same semantics as
    #: MaxSimRoute.full_scan_threshold: the coarse+rescore plan reads 8x
    #: fewer bytes but pays a second (float-token) scan for the rescore
    #: — at 512k page-cached docs the bench measured it ~2.5x slower
    #: than the exact one-pass scan; its win is the IO-bound regime.
    #: None = MAXSIM_FULL_SCAN_THRESHOLD, 0 = always quantized.
    full_scan_threshold: int | None = None
    n_docs: int | None = None


def build_maxsim_sq(
    points: DataFrame,
    *,
    mv_col: str = "mv",
    id_col: str = "id",
    quantile: float = 0.99,
    sample_tokens: int = 100_000,
    seed: int = 7,
    oversampling: float = 4.0,
) -> MaxSimSq:
    """Fit per-dimension clip bounds on a seeded TOKEN sample (same
    quantile scheme as quantize.build_sq), then encode every token with
    one nested transform — no python workers, no training
    state beyond (lo, hi)."""
    from qdrant_spark.operators.quantize import _sq_code_expr

    base = points.filter(
        F.col(mv_col).isNotNull() & (F.size(mv_col) > 0))
    tok = base.select(F.explode(mv_col).alias("__tok"))
    n = tok.count()
    if n == 0:
        raise ValueError("empty multivector corpus")
    frac = min(1.0, float(sample_tokens) / n)
    sample = np.array(
        [list(r[0]) for r in tok.sample(frac, seed=seed).collect()],
        dtype=np.float64)
    if sample.size == 0:
        sample = np.array(
            [list(r[0]) for r in tok.limit(10_000).collect()],
            dtype=np.float64)
    lo = np.quantile(sample, 1.0 - quantile, axis=0)
    hi = np.quantile(sample, quantile, axis=0)
    hi = np.where(hi - lo < 1e-12, lo + 1e-12, hi)
    codes = base.select(
        id_col,
        F.transform(F.col(mv_col),
                    lambda t: _sq_code_expr(lo, hi, t)).alias("__msq"))
    return MaxSimSq(codes=codes, lo=lo, hi=hi, points=points,
                    mv_col=mv_col, id_col=id_col,
                    oversampling=float(oversampling))


def persist_maxsim_sq(index: MaxSimSq, path: str) -> MaxSimSq:
    """Scalar-kind alias of :func:`persist_maxsim_quant`."""
    return persist_maxsim_quant(index, path)


def maxsim_knn_sq(index: MaxSimSq, query_multivector, *, k: int = 10,
                  oversampling: float = 4.0, metric: str = "dot",
                  rescore: bool = True) -> DataFrame:
    """Scalar-kind alias of :func:`maxsim_knn_quant` (int8 affine
    decode coarse stage + exact rescore)."""
    return maxsim_knn_quant(index, query_multivector, k=k,
                            oversampling=oversampling, metric=metric,
                            rescore=rescore)


@dataclass
class MaxSimBq:
    """Binary-quantized multivector storage — the 1-bit sibling of
    :class:`MaxSimSq` (quantized_vectors.rs is vector-kind-agnostic;
    BinaryQuantization applies to multivector segments like any other).
    ``codes`` holds ``__mbq`` (array<array<bigint>>): each token
    bit-encoded against shared per-dimension token statistics and packed
    into 64-bit words — the coarse MaxSim scan reads 1 BIT/dim (32x
    fewer bytes than float32, 8x fewer than the int8 codes), and only
    the oversampled candidate docs touch the full-precision tokens."""

    codes: DataFrame       # (id, __mbq)
    means: np.ndarray
    stds: np.ndarray
    points: DataFrame      # full-precision mv corpus for the rescore
    mv_col: str
    id_col: str
    encoding: str = "one_bit"
    oversampling: float = 4.0
    #: same exact-vs-quantized crossover semantics as MaxSimSq
    full_scan_threshold: int | None = None
    n_docs: int | None = None
    #: BinaryQuantizationQueryEncoding (types.rs:1188-1201) applied per
    #: QUERY TOKEN: "default"/"binary" score same-as-storage ±1 bits;
    #: "scalar4bits"/"scalar8bits" keep 4/8-bit scalar precision on each
    #: query token and rank by the fractional-XOR quantity — the same
    #: asymmetric trade the dense route ships (r11: +0.05 recall@10 at
    #: identical storage bytes)
    query_encoding: str = "default"


def build_maxsim_bq(
    points: DataFrame,
    *,
    mv_col: str = "mv",
    id_col: str = "id",
    encoding: str = "one_bit",
    query_encoding: str = "default",
    oversampling: float = 4.0,
) -> MaxSimBq:
    """Fit per-dimension token mean/stddev in ONE aggregation pass over
    the exploded tokens (the same statistics build_bq fits for dense
    rows), then bit-encode every token with one nested transform — no
    python workers, no training state beyond
    (means, stds)."""
    from qdrant_spark.operators.quantize import (
        BQ_ENCODINGS, BQ_QUERY_ENCODINGS, _bq_code_expr,
    )

    if encoding not in BQ_ENCODINGS:
        raise ValueError(
            f"encoding must be one of {BQ_ENCODINGS}, got {encoding!r}")
    query_encoding = str(query_encoding).lower()
    if query_encoding not in BQ_QUERY_ENCODINGS:
        raise ValueError(
            f"query_encoding must be one of {BQ_QUERY_ENCODINGS}, "
            f"got {query_encoding!r}")
    base = points.filter(
        F.col(mv_col).isNotNull() & (F.size(mv_col) > 0))
    tok = base.select(F.explode(mv_col).alias("__tok"))
    first = tok.select(F.size("__tok").alias("d")).first()
    if first is None:
        raise ValueError("empty multivector corpus")
    dim = first["d"]
    aggs = [
        F.avg(F.element_at(F.col("__tok"), d + 1).cast("double"))
        .alias(f"m{d}") for d in range(dim)
    ] + [
        F.stddev_pop(F.element_at(F.col("__tok"), d + 1).cast("double"))
        .alias(f"s{d}") for d in range(dim)
    ]
    row = tok.agg(*aggs).first()
    means = np.array([row[f"m{d}"] for d in range(dim)])
    stds = np.array([row[f"s{d}"] or 0.0 for d in range(dim)])
    codes = base.select(
        id_col,
        F.transform(
            F.col(mv_col),
            lambda t: _bq_code_expr(means, stds, encoding, t, dim),
        ).alias("__mbq"))
    return MaxSimBq(codes=codes, means=means, stds=stds, points=points,
                    mv_col=mv_col, id_col=id_col, encoding=encoding,
                    oversampling=float(oversampling),
                    query_encoding=query_encoding)


def persist_maxsim_bq(index: MaxSimBq, path: str) -> MaxSimBq:
    """Binary-kind alias of :func:`persist_maxsim_quant`."""
    return persist_maxsim_quant(index, path)


def maxsim_knn_bq(index: MaxSimBq, query_multivector, *, k: int = 10,
                  oversampling: float = 4.0, metric: str = "dot",
                  rescore: bool = True) -> DataFrame:
    """Binary-kind alias of :func:`maxsim_knn_quant`: the coarse rank is
    metric-blind like dense BQ (the ±1-dot ``ext_dim - 2*hamming`` for
    same-as-storage query tokens, the fractional-XOR quantity for the
    index's asymmetric ``query_encoding``); the rescore applies the
    requested metric."""
    return maxsim_knn_quant(index, query_multivector, k=k,
                            oversampling=oversampling, metric=metric,
                            rescore=rescore)


@dataclass
class MaxSimPq:
    """Product-quantized multivector storage — the PQ sibling of
    :class:`MaxSimSq` (quantized_vectors.rs is vector-kind-agnostic:
    the reference quantizes multivector segments with ANY configured
    kind, including Product). ``codes`` holds ``__mpq``
    (array<array<tinyint>>): each token split into M subspaces and
    encoded as one u8 centroid index per subspace against codebooks
    trained on a token sample — the coarse MaxSim scan reads M bytes
    per token (x4-x64 less than float32), reconstructs x_hat by
    codebook gather (the dense batch-ADC decomposition), and only the
    oversampled candidate docs touch the full-precision tokens."""

    codes: DataFrame       # (id, __mpq)
    codebooks: np.ndarray  # (M, K, dsub)
    points: DataFrame      # full-precision mv corpus for the rescore
    mv_col: str
    id_col: str
    oversampling: float = 4.0
    #: same exact-vs-quantized crossover semantics as MaxSimSq
    full_scan_threshold: int | None = None
    n_docs: int | None = None


def build_maxsim_pq(
    points: DataFrame,
    *,
    mv_col: str = "mv",
    id_col: str = "id",
    n_subspaces: int | None = None,
    compression: str = "x8",
    n_centroids: int = 256,
    sample_tokens: int = 100_000,
    seed: int = 7,
    max_iter: int = 20,
    oversampling: float = 4.0,
) -> MaxSimPq:
    """Train per-subspace codebooks on a seeded TOKEN sample (the same
    KMeans fit as quantize.build_pq, over exploded tokens), then encode
    every token of every doc in one Arrow-batched pass. ``compression``
    maps to M like the dense CompressionRatio (n_subspaces overrides)."""
    from qdrant_spark.operators.quantize import (
        _PQ_COMPRESSION, _fit_codebooks,
    )

    base = points.filter(
        F.col(mv_col).isNotNull() & (F.size(mv_col) > 0))
    tok = base.select(F.explode(mv_col).alias("__tok"))
    first = tok.select(F.size("__tok").alias("d")).first()
    if first is None:
        raise ValueError("empty multivector corpus")
    dim = int(first["d"])
    if n_subspaces is None:
        ratio = _PQ_COMPRESSION.get(str(compression))
        if ratio is None:
            raise ValueError(f"unknown PQ compression {compression!r}")
        m = max(1, dim * 4 // ratio)
        while dim % m:  # reshape(M, dsub) needs M | dim
            m -= 1
        n_subspaces = m
    if dim % n_subspaces:
        raise ValueError(
            f"token dim {dim} not divisible by n_subspaces {n_subspaces}")
    n = tok.count()
    frac = min(1.0, float(sample_tokens) / max(n, 1))
    rows = tok.sample(frac, seed=seed).collect() \
        or tok.limit(sample_tokens).collect()
    sample = np.array(sorted(list(r[0]) for r in rows), dtype=np.float64)
    codebooks = _fit_codebooks(sample, n_subspaces, n_centroids, max_iter,
                               seed)

    codes = base.select(
        id_col, _mpq_encode_udf(codebooks)(F.col(mv_col)).alias("__mpq"))
    return MaxSimPq(codes=codes, codebooks=codebooks, points=points,
                    mv_col=mv_col, id_col=id_col,
                    oversampling=float(oversampling))


def _mpq_encode_udf(codebooks: np.ndarray):
    """Token-PQ-encode Arrow UDF for FROZEN codebooks — shared by the
    build pass and the incremental encode of new rows (encode_maxsim;
    the multivector twin of quantize._pq_encode_udf): every token of the
    batch's docs goes through one :func:`quantize.pq_codes` call, then
    splits back into its doc."""
    import pyarrow.compute as pc

    from qdrant_spark.operators.knn import arrow_vectors
    from qdrant_spark.operators.quantize import code_lists, pq_codes

    cb = np.asarray(codebooks, dtype=np.float64)
    dim = cb.shape[0] * cb.shape[2]

    def _encode_mv(col: pa.Array) -> pa.Array:
        counts = pc.list_value_length(col).to_numpy(zero_copy_only=False)
        offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)
        codes = pq_codes(arrow_vectors(pc.list_flatten(col), dim), cb)
        return pa.ListArray.from_arrays(pa.array(offsets), code_lists(codes))

    return F.arrow_udf(_encode_mv, "array<array<tinyint>>")


@dataclass
class MaxSimTq:
    """TurboQuant multivector storage — the TQ sibling of
    :class:`MaxSimSq` (quantized_vectors.rs is vector-kind-agnostic).
    ``codes`` holds three parallel token arrays: ``__mtq``
    (array<binary>, per-token bit-packed Lloyd-Max indices over the
    seeded rotation), ``__mtq_l2`` / ``__mtq_cn`` (array<double>, the
    renorm extras — original token length and chosen-centroid norm,
    quantization.rs:290-316). The coarse scan reconstructs each token
    in ROTATED space (rotation preserves dot products, so the query
    tokens rotate once driver-side) and reads 1-4 bits/dim."""

    codes: DataFrame       # (id, __mtq, __mtq_l2, __mtq_cn)
    bits: float
    dim: int
    padded_dim: int
    seed: int
    points: DataFrame      # full-precision mv corpus for the rescore
    mv_col: str
    id_col: str
    oversampling: float = 4.0
    #: same exact-vs-quantized crossover semantics as MaxSimSq
    full_scan_threshold: int | None = None
    n_docs: int | None = None

    @property
    def bits_per_code(self) -> int:
        return 1 if self.bits in (1, 1.5) else int(self.bits)


def build_maxsim_tq(
    points: DataFrame,
    *,
    mv_col: str = "mv",
    id_col: str = "id",
    bits: float = 2,
    seed: int = 7,
    oversampling: float = 4.0,
) -> MaxSimTq:
    """Encode every token with the dense TurboQuant scheme (seeded
    rotation + shared Lloyd-Max N(0,1) codebook,
    turboquant/{lloyd_max,quantization}.rs) in one Arrow-batched pass —
    no training state beyond the seed (Normal mode; the TQ+ per-
    coordinate pre-pass is a dense-only option here)."""
    from qdrant_spark.operators.quantize import _next_pow2

    if bits not in (1, 1.5, 2, 4):
        raise ValueError(f"bits must be one of 1, 1.5, 2, 4 — got {bits}")
    base = points.filter(
        F.col(mv_col).isNotNull() & (F.size(mv_col) > 0))
    tok = base.select(F.explode(mv_col).alias("__tok"))
    first = tok.select(F.size("__tok").alias("d")).first()
    if first is None:
        raise ValueError("empty multivector corpus")
    dim = int(first["d"])
    target = int(np.ceil(dim * 1.5)) if bits == 1.5 else dim
    padded_dim = _next_pow2(target)
    codes = _mtq_encode_columns(base, mv_col, id_col, bits=bits, dim=dim,
                                padded_dim=padded_dim, seed=seed) \
        .select(id_col, "__mtq", "__mtq_l2", "__mtq_cn")
    return MaxSimTq(codes=codes, bits=bits, dim=dim, padded_dim=padded_dim,
                    seed=seed, points=points, mv_col=mv_col, id_col=id_col,
                    oversampling=float(oversampling))


def _mtq_encode_columns(base: DataFrame, mv_col: str, id_col: str, *,
                        bits: float, dim: int, padded_dim: int,
                        seed: int) -> DataFrame:
    """Attach ``__mtq/__mtq_l2/__mtq_cn`` for a FROZEN rotation seed —
    shared by the build pass and the incremental encode of new rows
    (encode_maxsim; the multivector twin of quantize._tq_encode_columns).
    One Arrow-batched pass, no training."""
    from pyspark.sql.functions import pandas_udf

    from qdrant_spark.operators.quantize import (
        _TQ_CENTROIDS, _tq_boundaries, _tq_pack, _tq_preprocess,
        _tq_rotation_params,
    )

    bpc = 1 if bits in (1, 1.5) else int(bits)
    centroids = _TQ_CENTROIDS[bpc]
    boundaries = _tq_boundaries(bpc)
    sqrt_d = float(np.sqrt(padded_dim))
    pd_, dim_, seed_ = padded_dim, dim, seed

    def _encode_mv(s):
        import pandas as pd

        if len(s) == 0:
            return pd.DataFrame({"codes": pd.Series([], dtype=object),
                                 "l2": pd.Series([], dtype=object),
                                 "cn": pd.Series([], dtype=object)})
        params = _tq_rotation_params(pd_, seed_)
        counts = [len(doc) for doc in s]
        V = np.zeros((sum(counts), pd_), dtype=np.float64)
        V[:, :dim_] = np.array([t for doc in s for t in doc],
                               dtype=np.float64)
        V, l2 = _tq_preprocess(V, params, sqrt_d)
        idx = np.searchsorted(boundaries, V).astype(np.uint8)
        cn = np.linalg.norm(centroids[idx], axis=1)
        packed = _tq_pack(idx, bpc)
        out_c, out_l, out_n, pos = [], [], [], 0
        for c in counts:
            out_c.append([row.tobytes() for row in packed[pos:pos + c]])
            out_l.append(list(l2[pos:pos + c]))
            out_n.append(list(cn[pos:pos + c]))
            pos += c
        return pd.DataFrame({"codes": out_c, "l2": out_l, "cn": out_n})

    enc = pandas_udf(
        _encode_mv,
        "codes array<binary>, l2 array<double>, cn array<double>")
    return (base.withColumn("__t", enc(F.col(mv_col)))
            .withColumn("__mtq", F.col("__t.codes"))
            .withColumn("__mtq_l2", F.col("__t.l2"))
            .withColumn("__mtq_cn", F.col("__t.cn"))
            .drop("__t"))


def persist_maxsim_quant(index, path: str):
    """Materialize the narrow token-code table of ANY quantized
    multivector index kind — the coarse scan then reads the persisted
    (id, code...) parquet (the multivector twin of
    quantize.persist_quant split storage)."""
    from dataclasses import replace

    index.codes.write.mode("overwrite").parquet(path)
    spark = index.codes.sparkSession
    return replace(index, codes=spark.read.parquet(path))


def build_maxsim_quant(points: DataFrame, config: dict, *,
                       mv_col: str = "mv", id_col: str = "id",
                       n_docs: int | None = None):
    """Build the quantized multivector storage a declared
    ``quantization_config`` describes — ANY kind, as the reference's
    vector-kind-agnostic quantized_vectors.rs does (the multivector twin
    of quantize.build_quant): scalar int8 token codes, binary packed
    token words, product codebook indices or turbo rotated Lloyd-Max
    codes. The config's ``full_scan_threshold`` becomes the index's
    exact-vs-quantized crossover."""
    from dataclasses import replace

    from qdrant_spark.operators.quantize import _TQ_BITS, quant_kind

    kind = quant_kind(config)
    cfg = config[kind] or {}
    common = dict(mv_col=mv_col, id_col=id_col,
                  oversampling=float(cfg.get("oversampling", 4.0)))
    if kind == "binary":
        idx = build_maxsim_bq(
            points, encoding=cfg.get("encoding", "one_bit"),
            query_encoding=cfg.get("query_encoding", "default"), **common)
    elif kind == "product":
        idx = build_maxsim_pq(
            points, compression=str(cfg.get("compression", "x8")), **common)
    elif kind == "turbo":
        bits = _TQ_BITS.get(str(cfg.get("bits", "bits4")))
        if bits is None:
            raise ValueError(f"unknown turbo bits {cfg.get('bits')!r}")
        idx = build_maxsim_tq(points, bits=bits, **common)
    else:
        idx = build_maxsim_sq(
            points, quantile=float(cfg.get("quantile", 0.99)), **common)
    return replace(idx, full_scan_threshold=cfg.get("full_scan_threshold"),
                   n_docs=n_docs)


def maxsim_quant_state(index) -> tuple[dict[str, np.ndarray], dict]:
    """(arrays, scalars) fully describing a quantized multivector
    index's encoder apart from its DataFrames — the multivector twin of
    quantize.quant_state."""
    if isinstance(index, MaxSimBq):
        return ({"means": index.means, "stds": index.stds},
                {"encoding": index.encoding,
                 "query_encoding": index.query_encoding})
    if isinstance(index, MaxSimPq):
        return {"codebooks": index.codebooks}, {}
    if isinstance(index, MaxSimTq):
        return {}, {"bits": index.bits, "dim": index.dim,
                    "padded_dim": index.padded_dim, "seed": index.seed}
    return {"lo": index.lo, "hi": index.hi}, {}


def maxsim_quant_from_state(kind: str, codes: DataFrame, points: DataFrame,
                            *, mv_col: str, id_col: str, arrays, scalars,
                            oversampling: float,
                            full_scan_threshold: int | None = None,
                            n_docs: int | None = None):
    """Rebuild a quantized multivector index from persisted codes +
    state — the load half of :func:`maxsim_quant_state`; ``points`` is
    the full-precision corpus for the exact rescore."""
    common = dict(codes=codes, points=points, mv_col=mv_col, id_col=id_col,
                  oversampling=oversampling,
                  full_scan_threshold=full_scan_threshold, n_docs=n_docs)
    if kind == "binary":
        return MaxSimBq(means=arrays["means"], stds=arrays["stds"],
                        encoding=scalars["encoding"],
                        query_encoding=scalars["query_encoding"], **common)
    if kind == "product":
        return MaxSimPq(codebooks=arrays["codebooks"], **common)
    if kind == "turbo":
        return MaxSimTq(bits=float(scalars["bits"]), dim=int(scalars["dim"]),
                        padded_dim=int(scalars["padded_dim"]),
                        seed=int(scalars["seed"]), **common)
    return MaxSimSq(lo=arrays["lo"], hi=arrays["hi"], **common)


def _mv_quant_prep(index, queries: Sequence[Sequence[Sequence[float]]],
                   metric: str):
    """Per-kind prep shared by the single-request and batched coarse
    scans over quantized token storage: returns ``(code_cols, Qtoks,
    decode, offsets, scales)`` where ``Qtoks`` holds one per-query token
    matrix ALREADY in scoring space, ``decode(flats)`` maps the first-
    level-flattened Arrow code arrays of one batch to the float token
    matrix in the same space through the kind's quantize decoder
    (cosine-normalized when the kind scores the requested metric; binary
    stays metric-blind ±1-dot like the dense coarse stage), ``offsets``
    is a per-query additive constant the kernel applies AFTER the MaxSim
    reduction, and ``scales`` is a per-query multiplicative constant
    applied last — ``(maxsim + offset) * scale``. Both are identity
    (0 / 1) except for the asymmetric binary encoding, whose per-pair
    quantity is affine in the bits: there the dot, the max and the token
    sum all run over INTEGER-valued float64 (every partial sum is an
    exact integer, so the result is independent of accumulation order —
    BLAS blocking, reduceat order, CPU kernel choice), and the single
    ``1/ranges`` division happens once at the end. The float path
    computed the same rational with a per-dim division first, which made
    equal integer totals differ in the last ulp by summation order —
    splitting exact score ties (endemic for integer coarse quantities)
    differently than the oracle's id-asc tie-break at the top-k cut. The
    per-kind quantities are exactly the dense scorers'
    (quantize.sq/pq/bq/tq_search) applied token-wise."""
    from qdrant_spark.operators.knn import arrow_matrix
    from qdrant_spark.operators.quantize import (
        _BQ_QUERY_BITS, _bq_ext_dim, _tq_scan, bq_bits_np, bq_decode,
        bq_scalar_query_codes, pq_decode, sq_decode,
    )

    cosine = metric == "cosine"
    zeros = np.zeros(len(queries))
    ones = np.ones(len(queries))

    def _norm_rows(M):
        n = np.linalg.norm(M, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return M / n

    def _tokens(flat):
        return arrow_matrix(flat, len(flat))

    if isinstance(index, MaxSimBq):
        ext_dim = _bq_ext_dim(len(index.means), index.encoding)
        asym = index.query_encoding in _BQ_QUERY_BITS
        if asym:
            # asymmetric per-token encoding (BinaryQuantization
            # QueryEncoding::Scalar4bits/8bits, encoded_vectors_binary.rs
            # :673-760): the per-pair quantity ext - 2*xor/ranges with
            # xor = sum_d (bit ? ranges-code : code) rewrites as
            # (ext - 2*S_c/ranges) + bits . (4c - 2*ranges)/ranges — a
            # dot over the raw 0/1 bits plus a per-query-token constant,
            # so the shared BLAS segment-max kernel scores it directly.
            # Carried SCALED BY ``ranges``: the dot operands, the
            # per-token constants and every max/sum stay exact integers
            # in float64; the kernel's final per-query ``scale`` divides
            # by ranges ONCE, so equal integer totals are equal doubles
            # on every CPU/BLAS (see the docstring's tie rationale)
            Qtoks, offs, scls = [], [], []
            for q in queries:
                rows, off, rng = [], 0.0, 1.0
                for t in q:
                    codes, ranges = bq_scalar_query_codes(index, list(t))
                    rng = float(ranges)
                    c = codes.astype(np.float64)
                    rows.append(4.0 * c - 2.0 * ranges)
                    off += ext_dim * rng - 2.0 * float(c.sum())
                Qtoks.append(np.asarray(rows, dtype=np.float64))
                offs.append(off)
                scls.append(1.0 / rng)
            offsets = np.asarray(offs, dtype=np.float64)
            scales = np.asarray(scls, dtype=np.float64)
        else:
            Qtoks = [np.asarray(
                [bq_bits_np(list(t), index.means, index.stds,
                            index.encoding)
                 for t in q], dtype=np.float64) * 2.0 - 1.0
                for q in queries]
            offsets = zeros
            scales = ones

        def decode(flats):
            bits = bq_decode(_tokens(flats[0]), ext_dim)
            return bits if asym else bits * 2.0 - 1.0

        return ["__mbq"], Qtoks, decode, offsets, scales

    Qall = np.asarray([list(t) for q in queries for t in q],
                      dtype=np.float64)
    if isinstance(index, MaxSimTq):
        # renorm reconstruction in ROTATED space: rotation preserves dots,
        # so the query tokens rotate once driver-side
        tq_dec, Qall = _tq_scan(index, "dot", Qall)

        def decode(flats):
            return tq_dec(*(f.to_numpy(zero_copy_only=False) for f in flats))

        code_cols = ["__mtq", "__mtq_l2", "__mtq_cn"]
    elif isinstance(index, MaxSimPq):
        cb = index.codebooks

        def decode(flats):
            return pq_decode(_tokens(flats[0]), cb)

        code_cols = ["__mpq"]
    else:  # MaxSimSq
        lo, hi = index.lo, index.hi

        def decode(flats):
            return sq_decode(_tokens(flats[0]), lo, hi)

        code_cols = ["__msq"]
    Qtoks = np.split(Qall, np.cumsum([len(q) for q in queries])[:-1])
    if cosine:
        Qtoks = [_norm_rows(Q) for Q in Qtoks]
        token_decode = decode

        def decode(flats):
            return _norm_rows(token_decode(flats))

    return code_cols, Qtoks, decode, zeros, ones


def maxsim_knn_quant(
    index,
    query_multivector: Sequence[Sequence[float]],
    *,
    k: int = 10,
    oversampling: float = 4.0,
    metric: str = "dot",
    rescore: bool = True,
    flt: dict[str, Any] | None = None,
) -> DataFrame:
    """Two-stage MaxSim over ANY quantized token storage kind
    (:class:`MaxSimSq` / :class:`MaxSimBq` / :class:`MaxSimPq` /
    :class:`MaxSimTq`): the coarse scan runs the shared batch kernel
    with one query (per-kind decode hook + one BLAS segment-max per
    Arrow batch), the exact MaxSim rescore touches only the oversampled
    candidates' float tokens — QuantizationSearchParams semantics
    applied to multivectors, for every kind the reference's
    quantized_vectors.rs accepts. A payload ``flt`` evaluates on the
    full-precision frame (where the payload columns live) and reaches
    the narrow code scan as an id semi-join — the dense
    quantize._coarse_src posture; the reference serves filtered search
    over quantized storage with the same filtered-scorer wrap."""
    from dataclasses import replace

    if metric not in ("dot", "cosine"):
        raise ValueError("maxsim supports dot/cosine")
    points = index.points
    if flt is not None:
        from qdrant_spark.filters import apply_filter

        points = apply_filter(index.points, flt)
        index = replace(index, codes=index.codes.join(
            points.select(index.id_col), index.id_col, "left_semi"))
    n_coarse = max(k, int(np.ceil(k * oversampling)))
    coarse = maxsim_quant_coarse_batch(
        index, [query_multivector], n_coarse, metric=metric)
    id_col = index.id_col
    if not rescore:
        return (coarse.filter(F.col("rank") <= k)
                .orderBy("rank").select(id_col, "score"))
    cand_ids = F.broadcast(coarse.select(id_col))
    cand = points.join(cand_ids, id_col, "left_semi")
    return maxsim_knn(cand, query_multivector, k=k, metric=metric,
                      mv_col=index.mv_col, id_col=id_col)


def maxsim_knn_pq(index: MaxSimPq, query_multivector, *, k: int = 10,
                  oversampling: float = 4.0, metric: str = "dot",
                  rescore: bool = True) -> DataFrame:
    """PQ-kind alias of :func:`maxsim_knn_quant` (codebook-gather
    reconstruction coarse stage + exact rescore)."""
    return maxsim_knn_quant(index, query_multivector, k=k,
                            oversampling=oversampling, metric=metric,
                            rescore=rescore)


def maxsim_knn_tq(index: MaxSimTq, query_multivector, *, k: int = 10,
                  oversampling: float = 4.0, metric: str = "dot",
                  rescore: bool = True) -> DataFrame:
    """TQ-kind alias of :func:`maxsim_knn_quant` (rotated-space renorm
    reconstruction coarse stage + exact rescore)."""
    return maxsim_knn_quant(index, query_multivector, k=k,
                            oversampling=oversampling, metric=metric,
                            rescore=rescore)


def encode_maxsim(index, points: DataFrame) -> DataFrame:
    """Encode NEW multivector rows with the index's FROZEN encoder state
    — the quantized-multivector twin of quantize.encode_quant: map-only,
    no re-fitting (the reference appends to quantized multivector
    storage with the stored parameters the same way). Accepts any
    quantized-multivector index kind: :class:`MaxSimSq` (int8 codes,
    ``__msq``), :class:`MaxSimBq` (packed 1-bit words, ``__mbq``),
    :class:`MaxSimPq` (codebook indices, ``__mpq``) or :class:`MaxSimTq`
    (rotated Lloyd-Max codes + renorm extras, ``__mtq*``). Returns
    ``points`` (non-null, non-empty multivectors) with the code
    column(s) attached."""
    from qdrant_spark.operators.quantize import _bq_code_expr, _sq_code_expr

    base = points.filter(
        F.col(index.mv_col).isNotNull() & (F.size(index.mv_col) > 0))
    if isinstance(index, MaxSimBq):
        dim = len(index.means)
        return base.withColumn(
            "__mbq",
            F.transform(
                F.col(index.mv_col),
                lambda t: _bq_code_expr(index.means, index.stds,
                                        index.encoding, t, dim)))
    if isinstance(index, MaxSimPq):
        return base.withColumn(
            "__mpq", _mpq_encode_udf(index.codebooks)(F.col(index.mv_col)))
    if isinstance(index, MaxSimTq):
        return _mtq_encode_columns(
            base, index.mv_col, index.id_col, bits=index.bits,
            dim=index.dim, padded_dim=index.padded_dim, seed=index.seed)
    return base.withColumn(
        "__msq",
        F.transform(F.col(index.mv_col),
                    lambda t: _sq_code_expr(index.lo, index.hi, t)))


def maxsim_quant_coarse_batch(index, queries: Sequence[Sequence[Sequence[float]]],
                              k: int, *, metric: str = "dot",
                              dedup_ids: bool = False) -> DataFrame:
    """ONE coarse scan answering a BATCH of multivector queries over
    quantized token storage of ANY kind (:class:`MaxSimSq` int8 codes,
    :class:`MaxSimBq` packed bits, :class:`MaxSimPq` codebook indices,
    :class:`MaxSimTq` rotated Lloyd-Max codes — per-kind decode via
    :func:`_mv_quant_prep`): all query multivectors' tokens concatenate
    into a single matrix, each Arrow batch runs ONE BLAS call against
    it, and two ``reduceat`` passes compute per-(doc, query) MaxSim —
    per-doc segment max over doc tokens, per-query sum over its token
    columns. Per-batch per-query top-k bounds the shuffle; the final
    window makes the per-query (score desc, id) ranking exact. Returns
    (__qid, id, score, rank<=k). The reference's batch dispatch walks
    quantized storage once for the whole batch the same way
    (lib/segment/src/vector_storage/quantized/).

    ``dedup_ids``: the codes frame is an INVLIST layout holding one
    identical-scoring copy per (doc, cluster) — the kernel keeps one copy
    per (query, doc) (see :func:`~qdrant_spark.operators.knn.arrow_topk`)."""
    from qdrant_spark.operators.knn import arrow_topk, with_rank

    code_cols, Qtoks, decode, offsets, scales = _mv_quant_prep(
        index, queries, metric)
    Qall = np.concatenate(Qtoks, axis=0)
    # per-query token column offsets for the reduceat over columns
    qstarts = np.cumsum([0] + [len(t) for t in Qtoks[:-1]])
    qall = np.arange(len(Qtoks))

    sc = index.codes.sparkSession.sparkContext
    # broadcast only the plain arrays (sc.broadcast pickles with the
    # stock pickler, which can't take the per-kind decode closure); the
    # decode fn + its encoder state ride the cloudpickled task closure
    bq = sc.broadcast((Qall, qstarts, offsets, scales))
    id_col = index.id_col
    ncols = len(code_cols)

    def blocks(batch):
        Qm, qs, offs, scl = bq.value
        ids = batch.column(0).to_numpy(zero_copy_only=False)
        flats, outer_off = _list_columns(batch, 1, ncols)
        assert (np.diff(outer_off) > 0).all()  # empties filtered at build
        scores = _batch_maxsim(decode(flats), outer_off[:-1] - outer_off[0],
                               Qm, qs)
        # per-query affine part + final scale (identity except asym
        # BQ, where it is the single 1/ranges division of the
        # integer-exact pipeline — see _mv_quant_prep)
        yield qall, ids, ((scores + offs) * scl).T

    return with_rank(arrow_topk(
        index.codes.select(id_col, *code_cols), blocks, metric="dot", k=k,
        qids=qall, qid_type=T.LongType(), qid_col="__qid", id_col=id_col,
        dedup_ids=dedup_ids, broadcast=bq,
    ))


def _list_columns(batch, first: int, n: int):
    """The ``n`` list columns of an Arrow batch from column ``first`` on
    (one doc's token codes per row), each flattened one level, plus the
    per-doc offsets they share."""
    import pyarrow as pa

    flats, outer_off = [], None
    for ci in range(first, first + n):
        col = batch.column(ci)
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        if outer_off is None:
            outer_off = col.offsets.to_numpy(zero_copy_only=False)
        flats.append(col.flatten())
    return flats, outer_off


def _batch_maxsim(Tm, starts, Qm, qstarts):
    """(docs, queries) MaxSim of a batch's token matrix ``Tm`` (doc
    segments start at ``starts``) against all query tokens ``Qm`` (query
    segments start at ``qstarts``): per-doc segment max, then per-query
    token sum."""
    # chunk the query-token columns: the full (batch_tokens x
    # all_qtokens) score matrix would be ~100s of MB per worker at 64
    # queries (first-rep GC thrash measured 40s); per-doc segment max
    # reduces each chunk to (docs, chunk) before the next chunk's BLAS
    # call
    CHUNK = 128
    blocks = [np.maximum.reduceat(Tm @ Qm[c0:c0 + CHUNK].T, starts, axis=0)
              for c0 in range(0, Qm.shape[0], CHUNK)]
    M = blocks[0] if len(blocks) == 1 else np.concatenate(blocks, axis=1)
    return np.add.reduceat(M, qstarts, axis=1)


def maxsim_quant_pair_topk(qidx, pairs: DataFrame,
                           queries: Sequence[Sequence[Sequence[float]]],
                           *, k: int, metric: str = "dot") -> DataFrame:
    """Coarse MaxSim over a (qid, id) candidate PAIR set read from
    QUANTIZED token storage of any kind — the coarse half of the fused
    composed multivector batch (r12): the code table joins the pair set
    once (the join lands on 1-4 bit/dim codes, never float tokens), each
    Arrow batch decodes its rows' tokens via the per-kind hook and
    scores every candidate ONLY against its own query
    (:func:`_pair_maxsim_topk`), so results equal the per-request
    composed plans. Returns (__qid, id, score, rank <= k) per qid,
    ranked (score desc, id)."""
    code_cols, Qtoks, decode, offsets, scales = _mv_quant_prep(
        qidx, queries, metric)
    id_col = qidx.id_col
    joined = qidx.codes.select(id_col, *code_cols).join(pairs, id_col) \
        .select("__qid", id_col, *code_cols)
    ncols = len(code_cols)

    def tokens(batch):
        flats, outer_off = _list_columns(batch, 2, ncols)
        return decode(flats), outer_off

    return _pair_maxsim_topk(joined, tokens, Qtoks, k=k, id_col=id_col,
                             offsets=offsets, scales=scales)


def maxsim_ivf_candidate_pairs(
    route_index: MaxSimIvf,
    queries: Sequence[Sequence[Sequence[float]]],
    *,
    nprobe: int = 2,
    metric: str = "dot",
) -> DataFrame:
    """ONE scan of the id-only cluster-partitioned token table answering
    EVERY query's candidate stage at once (the fused twin of
    :func:`_maxsim_ivf_candidates`, no PLAID cap): per query the probed
    cluster set computes driver-side; the scan filters to the probe
    UNION (directory pruning) and each matched token row fans out to
    exactly the queries that probed its cluster via one literal
    cluster->qids map — distinct (qid, id) pairs equal each query's own
    candidate set bit-for-bit."""
    cluster_q: dict[int, list[int]] = {}
    for qi, q in enumerate(queries):
        Qm = _query_tokens(q, metric)
        d2 = ((Qm[:, None, :] - route_index.centroids[None, :, :]) ** 2) \
            .sum(axis=2)
        per_tok = np.argsort(d2, axis=1)[:, :nprobe]
        for c in {int(c) for row in per_tok for c in row}:
            cluster_q.setdefault(c, []).append(qi)
    probes = sorted(cluster_q)
    flat = []
    for c in probes:
        flat.append(F.lit(int(c)))
        flat.append(F.array(*[F.lit(int(qi)) for qi in cluster_q[c]])
                    .cast("array<bigint>"))
    qids_for = F.element_at(F.create_map(*flat),
                            F.col("__cluster").cast("int"))
    return (route_index.tokens
            .filter(F.col("__cluster").isin(probes))
            .select(route_index.id_col, qids_for.alias("__qs"))
            .select(F.explode("__qs").alias("__qid"),
                    route_index.id_col)
            .distinct())


def maxsim_ivf_capped_pairs(
    route_index: MaxSimIvf,
    queries: Sequence[Sequence[Sequence[float]]],
    *,
    nprobe: int = 2,
    candidates: int = 4096,
    metric: str = "dot",
) -> DataFrame:
    """The fused PLAID stage-2 cap: ONE scan of the probed token union
    answers EVERY query's centroid-resolution candidate ranking at once.
    Per query a literal map carries its probed clusters' per-q-token
    centroid scores (NULL for unprobed clusters, so rows only contribute
    to the queries that probed them); one groupBy(id) computes every
    (query, q-token) max as a column; per-query totals unpivot to
    (qid, id, total) and a per-qid window keeps the top ``candidates``
    by (total desc, id) — bit-for-bit the single-request cap's ranking
    (:func:`_maxsim_ivf_candidates` with ``candidates`` set)."""
    from pyspark.sql.window import Window

    qdata = []
    union: set[int] = set()
    for q in queries:
        Qm = _query_tokens(q, metric)
        d2 = ((Qm[:, None, :] - route_index.centroids[None, :, :]) ** 2) \
            .sum(axis=2)
        per_tok = np.argsort(d2, axis=1)[:, :nprobe]
        probes = sorted({int(c) for row in per_tok for c in row})
        union.update(probes)
        S = Qm @ route_index.centroids.T  # (tq, n_clusters)
        qdata.append((probes, S))

    id_col = route_index.id_col
    matched = route_index.tokens \
        .filter(F.col("__cluster").isin(sorted(union)))
    # ONE flattened map: cluster -> every query's per-token centroid
    # scores concatenated (NaN slots for queries that did NOT probe the
    # cluster, so their maxes ignore it — 16 separate per-query map
    # lookups per row measured 4-10x slower than one lookup + the same
    # max aggregates)
    offs, total_w = [], 0
    for probes, S in qdata:
        offs.append(total_w)
        total_w += S.shape[0]
    flat = []
    for c in sorted(union):
        row = np.full(total_w, np.nan)
        for qi, (probes, S) in enumerate(qdata):
            if c in probes:
                row[offs[qi]:offs[qi] + S.shape[0]] = S[:, c]
        flat.append(F.lit(int(c)))
        flat.append(F.lit([float(x) for x in row]))
    scores_for = F.element_at(F.create_map(*flat),
                              F.col("__cluster").cast("int"))
    aggs, totals = [], []
    for qi, (probes, S) in enumerate(qdata):
        tq = S.shape[0]
        for ti in range(tq):
            # max() skips NULL but not NaN: strip NaN slots first
            v = F.element_at(F.col("__qs"), offs[qi] + ti + 1)
            aggs.append(F.max(F.when(~F.isnan(v), v))
                        .alias(f"__m_{qi}_{ti}"))
        totals.append(sum((F.col(f"__m_{qi}_{ti}")
                           for ti in range(1, tq)),
                          F.col(f"__m_{qi}_0")))
    gb = matched.select(F.col(id_col), scores_for.alias("__qs")) \
        .groupBy(id_col).agg(*aggs)
    stacked = gb.select(
        id_col,
        F.explode(F.array(*[
            F.struct(F.lit(qi).cast("long").alias("__qid"),
                     t.alias("__total"))
            for qi, t in enumerate(totals)])).alias("__s")) \
        .select(id_col, "__s.__qid", "__s.__total") \
        .filter(F.col("__total").isNotNull())
    w = Window.partitionBy("__qid").orderBy(
        F.col("__total").desc(), F.col(id_col).asc())
    return (stacked.withColumn("__rnk", F.row_number().over(w))
            .filter(F.col("__rnk") <= int(candidates))
            .select("__qid", id_col))


def maxsim_pair_topk(points: DataFrame, pairs: DataFrame,
                     queries: Sequence[Sequence[Sequence[float]]],
                     *, metric: str = "dot", k: int,
                     mv_col: str = "mv", id_col: str = "id") -> DataFrame:
    """Exact MaxSim over a (qid, id) candidate PAIR set — the rescore
    half of the batched quantized MaxSim path: the float corpus is
    semi-joined to the candidate union once, and each Arrow batch scores
    its rows against their own query's token matrix
    (:func:`_pair_maxsim_topk`). Returns (__qid, id, score, rank <= k)
    per qid, ranked (score desc, id)."""
    Qtoks = [_query_tokens(q, metric) for q in queries]
    dim = Qtoks[0].shape[1]
    joined = points.select(id_col, mv_col) \
        .join(F.broadcast(pairs), id_col) \
        .select("__qid", id_col, mv_col)

    def tokens(batch):
        return _mv_tokens(batch.column(2), dim, metric == "cosine")

    return _pair_maxsim_topk(joined, tokens, Qtoks, k=k, id_col=id_col)


def _pair_maxsim_topk(joined: DataFrame, tokens, Qtoks, *, k: int,
                      id_col: str, offsets=None, scales=None) -> DataFrame:
    """Per-qid MaxSim top-k of a (__qid, id, token columns...) pair frame
    through :func:`~qdrant_spark.operators.knn.arrow_topk`: each distinct
    ``__qid`` of an Arrow batch is one 1 × n block, its rows' tokens
    scored with one BLAS call against query ``__qid``'s token matrix
    ``Qtoks[__qid]`` only. ``tokens(batch)`` returns the batch's token
    matrix in scoring space and its per-doc list offsets. With
    ``offsets``, a query's score is ``(maxsim + offsets[q]) * scales[q]``
    (see :func:`_mv_quant_prep`)."""
    from qdrant_spark.operators.knn import arrow_topk, with_rank

    bq = joined.sparkSession.sparkContext.broadcast((Qtoks, offsets, scales))

    def blocks(batch):
        Qs, offs, scl = bq.value
        qids = batch.column(0).to_numpy(zero_copy_only=False)
        ids = batch.column(1).to_numpy(zero_copy_only=False)
        Tm, outer_off = tokens(batch)
        starts = outer_off[:-1] - outer_off[0]
        for qi in np.unique(qids):
            mask = np.where(qids == qi)[0]
            # token rows of just this qid's docs
            segs = [np.arange(starts[i],
                              starts[i] + (outer_off[i + 1] - outer_off[i]))
                    for i in mask]
            S = Tm[np.concatenate(segs)] @ Qs[int(qi)].T
            lens = np.array([len(s) for s in segs])
            st = np.concatenate([[0], np.cumsum(lens)[:-1]])
            out = np.maximum.reduceat(S, st, axis=0).sum(axis=1)
            if offs is not None:
                # identity except asym BQ's one final 1/ranges division
                # (integer-exact pipeline)
                out = (out + offs[int(qi)]) * scl[int(qi)]
            yield np.array([qi]), ids[mask], out[None, :]

    return with_rank(arrow_topk(
        joined, blocks, metric="dot", k=k, qids=np.arange(len(Qtoks)),
        qid_type=T.LongType(), qid_col="__qid", id_col=id_col, broadcast=bq,
    ))


def maxsim_knn_batch(points: DataFrame,
                     queries: Sequence[Sequence[Sequence[float]]],
                     *, k: int = 10, metric: str = "dot",
                     mv_col: str = "mv", id_col: str = "id") -> DataFrame:
    """Exact MaxSim for a BATCH of query multivectors in ONE corpus scan
    — the multivector analogue of knn_batch's shared matmul: all query
    tokens concatenate into one matrix, each Arrow batch runs chunked
    BLAS + two reduceat passes (per-doc segment max, per-query token
    sum), per-batch per-query top-k bounds the shuffle, and the final
    window makes the per-query (score desc, id) ranking exact. Returns
    (__qid, id, score, rank<=k); scores are EXACT MaxSim (no rescore
    stage). 64 sequential maxsim_knn calls read the corpus 64 times;
    this reads it once."""
    from qdrant_spark.operators.knn import arrow_topk, with_rank

    if metric not in ("dot", "cosine"):
        raise ValueError("maxsim supports dot/cosine")
    Qtoks = [_query_tokens(q, metric) for q in queries]
    Qall = np.concatenate(Qtoks, axis=0)
    qstarts = np.cumsum([0] + [len(t) for t in Qtoks[:-1]])
    qall = np.arange(len(Qtoks))
    dim = Qall.shape[1]
    bq = points.sparkSession.sparkContext.broadcast((Qall, qstarts))
    cosine = metric == "cosine"

    def blocks(batch):
        Qm, qs = bq.value
        ids = batch.column(0).to_numpy(zero_copy_only=False)
        Tm, outer_off = _mv_tokens(batch.column(1), dim, cosine)
        scores = _batch_maxsim(Tm, outer_off[:-1] - outer_off[0], Qm, qs)
        yield qall, ids, scores.T

    base = points.filter(
        F.col(mv_col).isNotNull() & (F.size(mv_col) > 0))
    return with_rank(arrow_topk(
        base.select(id_col, mv_col), blocks, metric="dot", k=k, qids=qall,
        qid_type=T.LongType(), qid_col="__qid", id_col=id_col, broadcast=bq,
    ))
