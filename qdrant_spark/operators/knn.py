"""Exact K-nearest-neighbor search (dense vectors) — single query and batch.

Reference semantics: ``CoreSearchRequest`` (lib/shard/src/search.rs) and the
plain (non-HNSW) exact scan path (lib/segment/src/index/plain_vector_index /
hnsw read_view dispatch lib/segment/src/index/hnsw_index/hnsw/read_view/
dispatch.rs:24-176): score every point passing the filter, return top-k by
score with optional ``score_threshold`` and ``offset``. Ties broken by id
ascending (the reference breaks ties arbitrarily; we pin id-asc so results
are deterministic and oracle-checkable — FIXTURES.md "Oracle rules").

Spark shapes:

- single query  -> ``orderBy(score).limit(k)`` => Catalyst plans
  ``TakeOrderedAndProject`` — per-partition partial top-k, then a driver
  merge. No shuffle of the scored set. This is already the optimal
  distributed plan at 100 TB.
- batch queries -> block matrix multiply through the one Arrow
  score-and-top-k kernel, :func:`arrow_topk`: ``mapInArrow`` over the
  points scores every query against each Arrow batch with one BLAS
  matmul (NumPy, float64), cuts each query's top k per batch and
  finishes once per partition, so at most partitions*Q*k candidate rows
  leave the map side. Within a task the cut runs against each query's
  running k-th score (REPOSE's bound): after a query's first block, a
  later block needs one mask, not a partition. Spark's array
  higher-order functions are interpreted (no whole-stage codegen), so
  this beats the pure-Column plan ~50x on the N*Q hot path — this is
  the 100-TB plan. The candidates reach one of two finishes:

  * *ranked* (the DataFrame every consumer gets): the candidates
    shuffle by query into the final exact window (:func:`ranked`). The
    frame is a :class:`~qdrant_spark.session.LazyFrame`: the window is
    built on first use, not when the kernel's plan is;
  * *collected* (:func:`collect_topk`, for callers that collect the
    top-k anyway — the fused batch groups of ``query.query_batch``):
    one job pulls the candidates with ``toArrow()`` and the driver
    merges them with the tie-exact :func:`first_k`, as qdrant's
    coordinator merges each segment's local top-k. No shuffle, no
    window, no second job, and the window is never built. It runs while
    partitions*Q*k stays within the caller's driver budget; above it the
    ranked finish is built, runs and is collected.

The same kernel serves every Arrow scorer (IVF cluster blocks, IVF-PQ
ADC shortlists, single and batch MaxSim, MaxSim pair rescores,
quantized coarse scans, the composed recommend scores). Its local cut is
tie-exact: it keeps each query's k best rows under the final window's
order — score direction, then id ascending — so the local-top-k-then-
merge plan returns exactly what one global sort would, ties included.

Beside the scorer sits the one nearest-centroid kernel,
:func:`nearest_centroid` (lowest id on ties): every frozen-centroid IVF
assignment and every PQ encode runs it in a scalar Arrow UDF over the
vector column alone.
"""

from __future__ import annotations

from typing import Any, Iterator, NamedTuple, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from qdrant_spark.filters import apply_filter
from qdrant_spark.functions.distances import larger_is_better
from qdrant_spark.session import LazyFrame


def score_order(metric: str, score_col: str = "score", id_col: str = "id") -> list[Column]:
    s = F.col(score_col).desc() if larger_is_better(metric) else F.col(score_col).asc()
    return [s, F.col(id_col).asc()]


def _threshold_cond(metric: str, threshold: float, score_col: str = "score") -> Column:
    """check_threshold (types.rs:371-377): direction-aware keep condition."""
    c = F.col(score_col)
    return c > F.lit(threshold) if larger_is_better(metric) else c < F.lit(threshold)


# Corpus-size cutoff (bytes, from Catalyst plan stats) above which the
# single-query path scores in the Arrow worker instead of interpreted
# Column math — the analogue of the reference's plain-vs-index dispatch on
# full_scan_threshold (hnsw read_view dispatch.rs:56-176). Measured on
# local[16] @ 64-dim: the Arrow path carries ~0.25 s fixed python-worker
# cost but ~3x lower per-element cost, crossing over around ~150 MB of
# vector data (≈500k x 64d rows); on a long-running cluster the fixed cost
# amortizes, so the cutoff errs low-side of the local crossover.
ARROW_DISPATCH_BYTES = 128 << 20


def dim_guard(vec_col: str, dim: int) -> Column:
    """Filter condition of an exact dense scan: false for rows without a
    vector, true for rows whose vector has ``dim`` values, and an in-plan
    error for any other row — a query of the wrong dimension fails
    instead of scoring nulls or matching nothing. The message names both
    dimensions."""
    return (F.when(F.col(vec_col).isNull(), False)
            .when(F.size(vec_col) == dim, True)
            .otherwise(F.raise_error(F.format_string(
                f"query vector has {dim} dimensions but "
                f"{vec_col.replace('%', '%%')} vectors have %d",
                F.size(vec_col)))))


def _plan_size_bytes(df: DataFrame) -> int:
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 0


def knn(
    points: DataFrame,
    query_vector: Sequence[float],
    *,
    metric: str = "cosine",
    k: int = 10,
    vec_col: str = "vec",
    id_col: str = "id",
    flt: dict[str, Any] | None = None,
    score_threshold: float | None = None,
    offset: int = 0,
    select: list[str] | None = None,
    arrow_dispatch_bytes: int | None = None,
) -> DataFrame:
    """Single-query exact KNN. Returns (id, ..., score) ordered best-first.

    Physical strategy is size-dispatched: small inputs score with Column
    math (zero Python round-trips); inputs whose Catalyst size estimate
    exceeds ``arrow_dispatch_bytes`` route through the block-matmul Arrow
    scorer with Q=1 and re-join the surviving <= offset+k rows for payload
    columns. Both paths produce identical (score, id)-ordered results."""
    df = apply_filter(points, flt)
    df = df.filter(F.col(vec_col).isNotNull())
    cutoff = ARROW_DISPATCH_BYTES if arrow_dispatch_bytes is None else arrow_dispatch_bytes
    if _plan_size_bytes(df) >= cutoff:
        return _knn_single_arrow(
            df, query_vector, metric=metric, k=k, vec_col=vec_col,
            id_col=id_col, score_threshold=score_threshold, offset=offset,
            select=select,
        )
    from qdrant_spark.functions.distances import distance_to_lit

    df = df.filter(dim_guard(vec_col, len(query_vector)))
    score = distance_to_lit(metric, vec_col, query_vector)
    out_cols = select if select is not None else \
        [c for c in df.columns if c != vec_col and c != "score"] + ["score"]
    # one projection (score computed inline), not withColumn+select: every
    # DataFrame op pays a full plan re-analysis on the driver (~40 ms on a
    # wide plan — profiled), which dominates single-query plan latency
    proj = list(out_cols) if "score" in out_cols else list(out_cols) + ["score"]
    df = df.select(*[score.alias("score") if c == "score" else c for c in proj])
    if score_threshold is not None:
        df = df.filter(_threshold_cond(metric, score_threshold))
    if proj != list(out_cols):
        df = df.select(*out_cols)
    df = df.orderBy(*score_order(metric, id_col=id_col))
    if offset:
        # TakeOrderedAndProject handles limit; offset applied after global order
        return df.limit(offset + k).offset(offset)
    return df.limit(k)


def _knn_single_arrow(
    df: DataFrame,
    query_vector: Sequence[float],
    *,
    metric: str,
    k: int,
    vec_col: str,
    id_col: str,
    score_threshold: float | None,
    offset: int,
    select: list[str] | None,
) -> DataFrame:
    """Q=1 dispatch into the block-matmul scorer: the corpus scan stays
    Arrow-side (one BLAS call per batch, <= partitions*k candidates out),
    then the tiny winner set broadcast-joins back for payload columns."""
    import numpy as np

    top = _matmul_knn(
        df, None,
        metric=metric, k=k + offset, vec_col=vec_col, id_col=id_col,
        qid_col="__q", qvec_col="__qv", score_threshold=score_threshold,
        q_data=([0], np.asarray([[float(x) for x in query_vector]])),
    ).select(F.col(id_col).alias("__hit_id"), "score")
    out_cols = select if select is not None else [c for c in df.columns if c != vec_col] + ["score"]
    if set(out_cols) <= {id_col, "score"}:
        # the scorer's output already carries (id, score) — joining back
        # would re-scan the whole corpus a second time just to re-project
        # columns we have. One scan total for the common id+score shape.
        out = top.select(
            *[F.col("__hit_id").alias(id_col) if c == id_col else F.col(c)
              for c in out_cols]
        ).orderBy(*score_order(metric, id_col=id_col))
    else:
        joined = df.join(
            F.broadcast(top), df[id_col] == F.col("__hit_id"), "inner"
        ).drop("__hit_id")
        out = joined.select(*out_cols).orderBy(*score_order(metric, id_col=id_col))
    if offset:
        return out.limit(offset + k).offset(offset)
    return out.limit(k)


def knn_batch(
    points: DataFrame,
    queries: DataFrame,
    *,
    metric: str = "cosine",
    k: int = 10,
    vec_col: str = "vec",
    id_col: str = "id",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    flt: dict[str, Any] | None = None,
    score_threshold: float | None = None,
) -> DataFrame:
    """Batch exact KNN: one top-k result set per row of ``queries``,
    scored by the block-matmul kernel (:func:`_matmul_knn`).

    ``queries`` must have (qid_col, qvec_col). Returns
    (qid, id, score, rank) with rank 1..k per query.
    """
    pts = apply_filter(points, flt).filter(F.col(vec_col).isNotNull())
    return with_rank(_matmul_knn(
        pts, queries, metric=metric, k=k, vec_col=vec_col, id_col=id_col,
        qid_col=qid_col, qvec_col=qvec_col, score_threshold=score_threshold,
    ))


def score_block(M, Qm, metric: str, qnorm=None):
    """(n, d) points × (q, d) queries -> (q, n) float64 scores, one BLAS
    call (dot/cosine) or memory-bounded chunks (euclid/manhattan). The
    shared kernel of every batch scorer (block matmul, IVF cluster blocks).
    Query-major, so each query's scores are one contiguous row for the
    top-k cut (:func:`arrow_topk`)."""
    import numpy as np

    n, dim = M.shape
    nq = Qm.shape[0]
    if metric in ("dot", "cosine"):
        S = Qm @ M.T
        if metric == "cosine":
            if qnorm is None:
                qnorm = np.linalg.norm(Qm, axis=1)
            S = S / (qnorm[:, None] * np.linalg.norm(M, axis=1)[None, :])
        return S
    cq = max(1, 4_000_000 // max(1, n * dim))
    S = np.empty((nq, n))
    for lo in range(0, nq, cq):
        d = Qm[lo:lo + cq, None, :] - M[None, :, :]
        if metric == "euclid":
            S[lo:lo + cq] = np.sqrt((d * d).sum(axis=2))
        else:
            S[lo:lo + cq] = np.abs(d).sum(axis=2)
    return S


def nearest_centroid(V, C):
    """(n,) int32 index of each row of ``V``'s nearest centroid (row of
    ``C``), squared-euclidean, lowest index on ties: the argmin of
    ``‖c‖² − 2·v·cᵀ`` in float64 (the row's own ‖v‖² does not move it).
    The one rule behind every frozen-centroid assignment (IVF clusters)
    and every PQ encode (per-subspace codewords). Rows go through in
    blocks of at most 4M scores. Raises ``ValueError`` naming both
    dimensions when the rows and centroids differ in length."""
    import numpy as np

    C = np.asarray(C, dtype=np.float64)
    if V.shape[1] != C.shape[1]:
        raise ValueError(f"vectors have {V.shape[1]} dimensions but the "
                         f"centroids have {C.shape[1]}")
    cn = (C * C).sum(axis=1)
    out = np.empty(V.shape[0], dtype=np.int32)
    step = max(1, 4_000_000 // max(1, C.shape[0]))
    for lo in range(0, V.shape[0], step):
        out[lo:lo + step] = (cn - 2.0 * (V[lo:lo + step] @ C.T)).argmin(axis=1)
    return out


def arrow_matrix(col, n: int):
    """(n, d) NumPy view of the flat values of an Arrow list column with
    ``n`` rows of ``d`` values each — no per-row object conversion."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    return col.flatten().to_numpy(zero_copy_only=False).reshape(n, -1)


def _width_mismatch(col, dim: int):
    """A row length other than ``dim`` in an Arrow column of non-null
    vectors (the shortest or the longest), or None when every row has
    ``dim`` values."""
    import pyarrow.compute as pc

    if len(col) == 0:
        return None
    mm = pc.min_max(pc.list_value_length(col)).as_py()
    if mm["min"] != dim or mm["max"] != dim:
        return mm["min"] if mm["min"] != dim else mm["max"]
    return None


def arrow_vectors(col, dim: int):
    """(n, ``dim``) float64 matrix of an Arrow column of non-null
    vectors, for a kernel over ``dim``-wide centroids: raises
    ``ValueError`` naming both dimensions on any row of another length
    (a flat reshape would silently re-cut ragged rows)."""
    import numpy as np

    bad = _width_mismatch(col, dim)
    if bad is not None:
        raise ValueError(f"a vector has {bad} dimensions but the "
                         f"centroids have {dim}")
    if len(col) == 0:
        return np.empty((0, dim))
    return arrow_matrix(col, len(col)).astype(np.float64, copy=False)


def first_k(qi, key, ids, k: int):
    """Positions of the first ``k`` entries per query under the final
    window's order — query index, then ``key`` (smaller is better), then
    id ascending — returned in that order. The finish of every top-k
    kernel: one lexsort over a small candidate set."""
    import numpy as np

    order = np.lexsort((ids, key, qi))
    return order[_group_pos(qi[order]) < k]


def _group_pos(qs):
    """0-based position of each entry inside its run of equal values of
    the sorted query array ``qs`` — a query's rank minus one."""
    import numpy as np

    pos = np.arange(len(qs))
    if len(qs) == 0:
        return pos
    return pos - np.maximum.accumulate(
        np.where(np.r_[True, qs[1:] != qs[:-1]], pos, 0))


def topk_cut(key, ids, k: int):
    """Tie-exact per-query cut of a (q, n) key matrix (smaller is better):
    each query row keeps its ``min(k, n)`` best columns under (key, id
    asc) — the final window's order, so a local cut never drops a tied
    row the merge would rank first. One ``np.partition`` finds each
    row's k-th key; every column at or under it (ties included, and every
    column of a row whose k-th key is NaN) is a candidate; ``first_k``
    orders that small superset. ``ids`` is (n,) shared by all rows or
    (q, n) per row. Returns (row, column, id) arrays, query-major; empty
    for ``k = 0``."""
    import numpy as np

    kk = min(k, key.shape[1])
    if kk <= 0:
        none = np.empty(0, dtype=np.intp)
        return none, none, np.empty(0, dtype=ids.dtype)
    if kk < key.shape[1]:
        thr = np.partition(key, kk - 1, axis=1)[:, kk - 1:kk]
        qi, cols = np.nonzero((key <= thr) | np.isnan(thr))
    else:
        qi, cols = np.indices(key.shape).reshape(2, -1)
    cid = ids[cols] if ids.ndim == 1 else ids[qi, cols]
    keep = first_k(qi, key[qi, cols], cid, kk)
    return qi[keep], cols[keep], cid[keep]


def running_cut(key, ids, thr, k: int):
    """:func:`topk_cut` of a later block of a task that already holds
    each query row's k-th key so far, ``thr`` ((q,), NaN where unknown).
    A row with a known key keeps every column at or under it — ties
    included, their ids decide them in the merge — as an unordered
    superset of its cut: one mask instead of a partition. No column
    above it can enter the row's top k, so the merge (:func:`first_k`)
    stays exact. Rows without a known key, and rows whose mask keeps
    more than an eighth of the block (ordering them would cost more than
    a partition), go through :func:`topk_cut`. Same arguments and
    return shape as :func:`topk_cut`, but not ordered or cut to k."""
    import numpy as np

    known = ~np.isnan(thr)
    if k <= 0 or not known.any():
        return topk_cut(key, ids, k)
    qi, cols = np.nonzero(key <= thr[:, None])
    cut = ~known | (np.bincount(qi, minlength=len(thr))
                    > max(k, key.shape[1] >> 3))
    if cut.any():
        rows = np.flatnonzero(cut)
        keep = ~cut[qi]
        cq, cc, _ = topk_cut(key[rows], ids if ids.ndim == 1 else ids[rows], k)
        qi = np.concatenate([qi[keep], rows[cq]])
        cols = np.concatenate([cols[keep], cc])
    return qi, cols, ids[cols] if ids.ndim == 1 else ids[qi, cols]


def ranked(scored: DataFrame, metric: str, k: int, *, qid_col: str,
           id_col: str) -> DataFrame:
    """The shared exact final window: (score direction, id asc) per query,
    ``rank`` 1..k."""
    w = Window.partitionBy(qid_col).orderBy(*score_order(metric, id_col=id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def topk_kernel(blocks, *, k: int, bigger_better: bool, qids, qid_col: str,
                id_col: str, dedup_ids: bool = False):
    """The ``mapInArrow`` function of the one Arrow score-and-top-k kernel.

    ``blocks(batch)`` yields ``(query indices, ids, (q, n) scores)``
    blocks for one Arrow batch — one for the whole batch (block matmul)
    or one per cluster (IVF). A task keeps each query's running top k
    and its k-th key, REPOSE's running bound inside one task: a query's
    first block goes through :func:`topk_cut`, a later one through
    :func:`running_cut` (one mask against the k-th key), and
    :func:`first_k` re-finishes the running set whenever the new
    candidates outnumber it, and once at the end. So a partition emits
    at most Q × k (qid, id, score) rows, exactly the top k one global
    sort would keep (score direction, id ascending). ``qids[i]`` is the
    output qid of query index ``i``. ``dedup_ids``: the scan holds
    identical-scoring copies of a row (an invlist layout); one copy per
    (query, id) survives inside a block before the cut (two copies must
    not take two of a query's k slots) and across batches before the
    finish, so every block is cut by :func:`topk_cut` and finished once
    per partition."""
    import numpy as np

    qid_arr = np.asarray(qids)

    def run(batches: Iterator) -> Iterator:
        import pyarrow as pa

        thr = np.full(len(qid_arr), np.nan)  # k-th key so far, per query
        acc_q, acc_i, acc_s = [], [], []
        held = pending = 0  # rows of the running set / added since

        def finish():
            qi, ids, scores = (np.concatenate(a) for a in (acc_q, acc_i, acc_s))
            if dedup_ids:
                o = np.lexsort((ids, qi))
                qi, ids, scores = qi[o], ids[o], scores[o]
                first = np.r_[True, (qi[1:] != qi[:-1]) | (ids[1:] != ids[:-1])]
                qi, ids, scores = qi[first], ids[first], scores[first]
            keep = first_k(qi, -scores if bigger_better else scores, ids, k)
            return qi[keep], ids[keep], scores[keep]

        for batch in batches:
            if batch.num_rows == 0:
                continue
            for qidx, ids, S in blocks(batch):
                key = -S if bigger_better else S
                if dedup_ids:
                    _, first = np.unique(ids, return_index=True)
                    ids, key, S = ids[first], key[:, first], S[:, first]
                    qi, cols, cid = topk_cut(key, ids, k)
                else:
                    qi, cols, cid = running_cut(key, ids, thr[qidx], k)
                acc_q.append(qidx[qi])
                acc_i.append(cid)
                acc_s.append(S[qi, cols])
                pending += len(qi)
                if not dedup_ids and pending >= max(held, 1):
                    qi, ids, scores = finish()
                    acc_q, acc_i, acc_s = [qi], [ids], [scores]
                    held, pending = len(qi), 0
                    kth = _group_pos(qi) == k - 1
                    thr[qi[kth]] = -scores[kth] if bigger_better else scores[kth]
        if not acc_q:
            return
        qi, ids, scores = finish()
        yield pa.RecordBatch.from_arrays(
            [pa.array(qid_arr[qi]), pa.array(ids),
             pa.array(scores, type=pa.float64())],
            names=[qid_col, id_col, "score"],
        )

    return run


def arrow_topk(
    sel: DataFrame,
    blocks,
    *,
    metric: str,
    k: int,
    qids,
    qid_type: T.DataType,
    qid_col: str,
    id_col: str,
    score_threshold: float | None = None,
    dedup_ids: bool = False,
    broadcast: Any = None,
) -> DataFrame:
    """Batch top-k over ``sel`` (id first) through :func:`topk_kernel`:
    at most partitions × Q × k candidate rows reach :func:`ranked`, which
    returns (qid, id, score, rank <= k). With one query the finish is a
    top-k sort instead (``TakeOrderedAndProject``, no shuffle): its <= k
    (qid, id, score) rows best-first, without ``rank`` (callers that read
    it add it with :func:`with_rank`). With ``dedup_ids``, copies from
    different partitions meet and collapse before the finish.

    The result is a :class:`~qdrant_spark.session.LazyFrame`: the finish
    (window or top-k sort) is built on first use, so a caller that only
    runs :func:`collect_topk` within its budget never builds it. The
    candidate frame rides along as its ``_qs_topk`` for
    :func:`collect_topk`, which destroys ``broadcast`` (the query set the
    blocks read) once it has collected."""
    out_schema = T.StructType([
        T.StructField(qid_col, qid_type),
        T.StructField(id_col, sel.schema[id_col].dataType),
        T.StructField("score", T.DoubleType()),
    ])
    scored = sel.mapInArrow(topk_kernel(
        blocks, k=k, bigger_better=larger_is_better(metric), qids=qids,
        qid_col=qid_col, id_col=id_col, dedup_ids=dedup_ids,
    ), out_schema)
    if dedup_ids:
        scored = scored.dropDuplicates([qid_col, id_col])
    if score_threshold is not None:
        scored = scored.filter(_threshold_cond(metric, score_threshold))

    def finish() -> DataFrame:
        if len(qids) == 1:
            return scored.orderBy(*score_order(metric, id_col=id_col)).limit(k)
        return ranked(scored, metric, k, qid_col=qid_col, id_col=id_col)

    return LazyFrame(scored.sparkSession, finish, topk=_Candidates(
        scored, metric, k, len(qids), broadcast, qid_col, id_col))


def with_rank(topk: DataFrame) -> DataFrame:
    """An :func:`arrow_topk` result with ``rank`` 1..k per query, for
    callers that read it: the one-query finish carries none, so it gains
    a ``row_number`` window (the limit's single-partition output already
    satisfies it, so it costs no exchange), built on first use like the
    finish. The candidates ride along for :func:`collect_topk`."""
    c: _Candidates = topk._qs_topk
    if c.nq != 1:
        return topk

    def finish() -> DataFrame:
        w = Window.partitionBy(c.qid_col).orderBy(
            *score_order(c.metric, id_col=c.id_col))
        return topk.withColumn("rank", F.row_number().over(w))

    return LazyFrame(topk.sparkSession, finish, topk=c)


class _Candidates(NamedTuple):
    """The map side of an :func:`arrow_topk` result: the kernel's
    (qid, id, score) candidate frame — at most Q × k rows per partition —
    and what :func:`collect_topk` needs to finish it on the driver."""

    frame: DataFrame
    metric: str
    k: int
    nq: int
    broadcast: Any
    qid_col: str
    id_col: str


def _num_partitions(df: DataFrame) -> int:
    """Partition count of ``df``'s physical plan — the one its own
    QueryExecution caches and its next action runs, so reading it plans
    nothing twice. No job runs unless the plan holds an exchange
    (adaptive execution then materializes the shuffle stages, which the
    action reuses)."""
    return int(df._jdf.queryExecution().executedPlan().execute()
               .getNumPartitions())


def collect_topk(topk: DataFrame, max_rows: int):
    """The collected finish of an :func:`arrow_topk` result, for callers
    that collect the top-k anyway. While the map side's candidates fit
    the driver budget (partitions × Q × k <= ``max_rows``), ONE job pulls
    them with ``toArrow()`` and the driver merges each query's top k with
    the tie-exact :func:`first_k` (score direction, then id ascending) —
    no shuffle, no window, no second job, and ``topk``'s own finish is
    never built. Above the budget ``topk`` itself is built, runs and is
    collected (the one-query finish arrives sorted, so its rank is the
    row's position). Either way
    returns query-major NumPy arrays (qid, id, score, rank), equal to
    collecting ``topk`` and sorting by (qid, rank), and destroys the
    query broadcast."""
    import numpy as np

    c: _Candidates = topk._qs_topk
    try:
        if _num_partitions(c.frame) * c.nq * c.k <= max_rows:
            qid, ids, score = (col.to_numpy() for col in
                               c.frame.toArrow().columns)
            keep = first_k(qid, -score if larger_is_better(c.metric)
                           else score, ids, c.k)
            qid, ids, score = qid[keep], ids[keep], score[keep]
            return qid, ids, score, _group_pos(qid) + 1
        cols = [col.to_numpy() for col in topk.toArrow().columns]
        qid, ids, score = cols[:3]
        if c.nq == 1:
            # the one-query finish arrives sorted: rank is the position
            return qid, ids, score, np.arange(1, len(qid) + 1)
        o = np.lexsort((cols[3], qid))
        return qid[o], ids[o], score[o], cols[3][o]
    finally:
        if c.broadcast is not None:
            c.broadcast.destroy()


def _matmul_knn(
    pts: DataFrame,
    queries: DataFrame,
    *,
    metric: str,
    k: int,
    vec_col: str,
    id_col: str,
    qid_col: str,
    qvec_col: str,
    score_threshold: float | None,
    q_data: tuple[list, "Any"] | None = None,
    vec_decode: "Any" = None,
) -> DataFrame:
    """Block-matmul batch KNN: per Arrow batch, score all queries at once
    with NumPy (float64 BLAS) through :func:`arrow_topk`. Arrow-native:
    the vector column's flat value buffer reshapes straight into the
    (P, D) matrix — no per-row object conversion.

    ``q_data=(qids, Q)`` supplies the query set directly (single-query
    dispatch, pre-collected batches) instead of collecting ``queries``.

    Rows without a vector drop out in the kernel, which also checks the
    vectors' width against the queries': a row of another width fails
    the task with ``ValueError`` naming both dimensions, instead of a
    flat reshape silently re-cutting ragged rows. Packed storage
    (``vec_decode``) goes to its decode hook as it is."""
    import numpy as np

    if q_data is not None:
        qids = list(q_data[0])
        Q = np.asarray(q_data[1], dtype=np.float64)
        qid_type = T.LongType()
    else:
        # plain collect, NOT coalesce(1): narrowing a python-backed queries
        # DF to one partition funnels every pickled partition through a
        # single python worker sequentially — measured ~2.6s fixed vs ~0.2s
        # for the parallel collect of the same 64 rows
        q_rows = queries.select(qid_col, qvec_col).collect()
        qids = [r[qid_col] for r in q_rows]
        Q = np.array([list(r[qvec_col]) for r in q_rows], dtype=np.float64)
        qid_type = queries.schema[qid_col].dataType
    bq = pts.sparkSession.sparkContext.broadcast(Q)
    qnorm = np.linalg.norm(Q, axis=1) if metric == "cosine" else None
    qall = np.arange(len(qids))
    dim = Q.shape[1]

    def blocks(batch):
        if vec_decode is not None:
            # packed storage (binary f16/u8 columns): decode hook
            # yields the (n, dim) float64 matrix
            M = vec_decode(batch.column(1), batch.num_rows)
        else:
            if batch.column(1).null_count:
                batch = batch.filter(batch.column(1).is_valid())
                if batch.num_rows == 0:
                    return
            bad = _width_mismatch(batch.column(1), dim)
            if bad is not None:
                raise ValueError(f"query vector has {dim} dimensions but "
                                 f"{vec_col} vectors have {bad}")
            M = arrow_matrix(batch.column(1), batch.num_rows) \
                .astype(np.float64, copy=False)
        ids = batch.column(0).to_numpy(zero_copy_only=False)
        yield qall, ids, score_block(M, bq.value, metric, qnorm=qnorm)

    return arrow_topk(
        pts.select(id_col, vec_col), blocks, metric=metric, k=k, qids=qids,
        qid_type=qid_type, qid_col=qid_col, id_col=id_col,
        score_threshold=score_threshold, broadcast=bq,
    )


def rowwise_score_topk(
    pairs: DataFrame,
    *,
    metric: str,
    k: int | None,
    qid_col: str = "qid",
    id_col: str = "id",
    vec_col: str = "vec",
    qvec_col: str = "qvec",
    score_threshold: float | None = None,
    threshold_inclusive: bool = False,
) -> DataFrame:
    """Score a pre-joined (qid, id, vec, qvec) pair table — the primitive
    for scoped joins (blocked similarity joins, candidate-pair verify)
    where each point meets only *some* queries, so broadcasting the full
    query matrix (`_matmul_knn`) would waste work.

    Arrow-native rowwise scoring: both vector columns reshape from flat
    Arrow buffers into (n, d) matrices, one vectorized einsum/norm per
    batch. With ``k`` set: per-batch per-query prune + exact final window
    (score direction, then id asc). With ``k=None``: all pairs passing
    ``score_threshold`` (applied inside the scorer, so non-matching pairs
    never leave the python worker). Interpreted Column math on array pairs
    is ~60x slower — never score pair tables with
    ``aggregate(zip_with(...))``."""
    import numpy as np

    bigger_better = larger_is_better(metric)
    sel = pairs.select(qid_col, id_col, vec_col, qvec_col)
    out_schema = T.StructType(
        [
            T.StructField(qid_col, sel.schema[qid_col].dataType),
            T.StructField(id_col, sel.schema[id_col].dataType),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def score_batches(batches: Iterator) -> Iterator:
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            qids = batch.column(0).to_numpy(zero_copy_only=False)
            ids = batch.column(1).to_numpy(zero_copy_only=False)
            V = arrow_matrix(batch.column(2), n).astype(np.float64, copy=False)
            Qm = arrow_matrix(batch.column(3), n).astype(np.float64, copy=False)
            if metric == "dot":
                s = np.einsum("ij,ij->i", V, Qm)
            elif metric == "cosine":
                s = np.einsum("ij,ij->i", V, Qm) / (
                    np.linalg.norm(V, axis=1) * np.linalg.norm(Qm, axis=1)
                )
            elif metric == "euclid":
                s = np.linalg.norm(V - Qm, axis=1)
            else:
                s = np.abs(V - Qm).sum(axis=1)
            if score_threshold is not None:
                if bigger_better:
                    keep = s >= score_threshold if threshold_inclusive else s > score_threshold
                else:
                    keep = s <= score_threshold if threshold_inclusive else s < score_threshold
                qids, ids, s = qids[keep], ids[keep], s[keep]
                if len(s) == 0:
                    continue
            if k is not None:
                # per-batch per-query top-k prune (exactness restored by
                # the final window)
                keep = first_k(qids, -s if bigger_better else s, ids, k)
                qids, ids, s = qids[keep], ids[keep], s[keep]
            yield pa.RecordBatch.from_arrays(
                [pa.array(qids), pa.array(ids),
                 pa.array(s, type=pa.float64())],
                names=[qid_col, id_col, "score"],
            )

    scored = sel.mapInArrow(score_batches, out_schema)
    if k is None:
        return scored
    return ranked(scored, metric, k, qid_col=qid_col, id_col=id_col)
