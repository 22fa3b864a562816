"""IVF-PQ: coarse cluster pruning over residual PQ codes + exact rescore.
Gates: full-probe + ample oversampling == exact top-k; pruned probes hit a
recall floor; residual codebooks beat raw-vector PQ distortion."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from qdrant_spark.operators.ann import (
    build_ivf_pq, ivf_pq_search, persist_ivf_pq,
)
from qdrant_spark.operators.knn import knn


@pytest.fixture(scope="module")
def ivfpq(embeddings):
    idx = build_ivf_pq(
        embeddings, n_clusters=8, n_subspaces=8, n_centroids=256,
        vec_col="embedding", id_col="vec_id", seed=3,
    )
    idx.assigned.cache().count()
    return idx


def _exact_ids(embeddings, q, metric, k):
    return [
        r["vec_id"]
        for r in knn(embeddings, q, metric=metric, k=k, vec_col="embedding",
                     id_col="vec_id", select=["vec_id", "score"]).collect()
    ]


@pytest.mark.parametrize("metric", ["cosine", "dot", "euclid"])
def test_full_probe_rescore_matches_exact(embeddings, ivfpq, metric):
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    exact = _exact_ids(embeddings, q, metric, 10)
    got = [
        r["vec_id"]
        for r in ivf_pq_search(ivfpq, q, k=10, nprobe=8, oversampling=16.0,
                               metric=metric).collect()
    ]
    assert got == exact


def test_pruned_probe_recall(embeddings, ivfpq):
    rows = embeddings.limit(5).collect()
    hits = total = 0
    for row in rows:
        q = list(row["embedding"])
        exact = set(_exact_ids(embeddings, q, "cosine", 10))
        got = {
            r["vec_id"]
            for r in ivf_pq_search(ivfpq, q, k=10, nprobe=4, oversampling=6.0,
                                   metric="cosine").collect()
        }
        hits += len(exact & got)
        total += len(exact)
    assert hits / total >= 0.6


def test_coarse_adc_scores_close_to_exact(embeddings, ivfpq):
    """The ADC approximation alone (rescore=False, full probe) must rank
    well: overlap with exact top-10 >= 0.5 and scores within coarse
    quantization error."""
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    coarse = ivf_pq_search(ivfpq, q, k=10, nprobe=8, oversampling=1.0,
                           metric="cosine", rescore=False).collect()
    assert len(coarse) == 10
    exact = set(_exact_ids(embeddings, q, "cosine", 10))
    overlap = len(exact & {r["vec_id"] for r in coarse}) / 10
    assert overlap >= 0.5
    for r in coarse:
        assert -1.2 <= r["score"] <= 1.2


def test_residual_reconstruction_tighter_than_raw(embeddings, ivfpq):
    """Residual PQ must reconstruct with lower MSE than quantizing raw
    vectors with the same code budget — the point of the residual trick."""
    from qdrant_spark.operators.quantize import build_pq

    raw = build_pq(embeddings, vec_col="embedding", id_col="vec_id",
                   n_subspaces=8, n_centroids=256, seed=3)
    rows = ivfpq.assigned.select("embedding", "__cluster", "__pq").limit(200).collect()
    cb, cents = ivfpq.codebooks, ivfpq.centroids
    M, K, dsub = cb.shape
    err_res = 0.0
    for r in rows:
        v = np.array(r["embedding"], dtype=float)
        codes = np.array(r["__pq"], dtype=np.int64) + 128
        xhat = cents[r["__cluster"]] + cb[np.arange(M), codes].reshape(-1)
        err_res += float(((v - xhat) ** 2).sum())
    raw_rows = raw.codes.select("embedding", "__pq").limit(200).collect()
    rcb = raw.codebooks
    err_raw = 0.0
    for r in raw_rows:
        v = np.array(r["embedding"], dtype=float)
        codes = np.array(r["__pq"], dtype=np.int64) + 128
        xhat = rcb[np.arange(M), codes].reshape(-1)
        err_raw += float(((v - xhat) ** 2).sum())
    assert err_res < err_raw


def test_persist_prunes_partitions(tmp_path, embeddings, ivfpq):
    idx = persist_ivf_pq(ivfpq, str(tmp_path / "ivfpq"))
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    out = ivf_pq_search(idx, q, k=5, nprobe=2, metric="cosine")
    assert out.count() == 5
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the coarse scan must read the partition-pruned parquet
    assert "PartitionFilters" in plan or "__cluster" in plan


def test_filtered_search(embeddings, ivfpq):
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    flt = {"must": [{"key": "label", "range": {"lte": 5}}]}
    got = ivf_pq_search(ivfpq, q, k=5, nprobe=8, oversampling=8.0,
                        metric="cosine", flt=flt).collect()
    assert got
    labels = {
        r["label"]
        for r in embeddings.filter(
            embeddings.vec_id.isin([g["vec_id"] for g in got])
        ).select("label").collect()
    }
    assert labels and all(l <= 5 for l in labels)


def _nearest(V, C):
    """NumPy reference of the one assignment rule: the argmin of
    ‖c‖² − 2·v·cᵀ in float64, first (lowest) index on ties."""
    V = np.asarray(V, dtype=np.float64)
    return ((C * C).sum(axis=1)[None, :] - 2.0 * V @ C.T).argmin(axis=1)


def _assigned_rows(frame):
    """(vectors, __cluster) of an assigned frame, in vec_id order."""
    rows = frame.select("embedding", "__cluster").orderBy("vec_id").collect()
    return (np.array([list(r[0]) for r in rows], dtype=np.float64),
            np.array([r[1] for r in rows]))


def _tie_row(spark, vec_id, C, a, b):
    """One row halfway between centroids ``a`` and ``b`` (double vector,
    so the midpoint is not rounded to float)."""
    return spark.createDataFrame(
        [(vec_id, [float(x) for x in (C[a] + C[b]) / 2], 0)],
        "vec_id long, embedding array<double>, label int")


def test_assign_to_ivf_matches_nearest_centroid(spark, embeddings,
                                                monkeypatch):
    """One assignment rule on every path: the driver-side fit, the MLlib
    fit (``IVF_DRIVER_FIT_MAX_ELEMS = 0``), the incremental append (with
    a row equidistant from two centroids) and a rebalance split each give
    every row the centroid of the NumPy argmin of ‖c‖² − 2·v·cᵀ, first
    index on ties; and full-probe search over the merged index equals the
    exact scan over the merged corpus."""
    from qdrant_spark.operators import ann
    from qdrant_spark.operators.ann import (
        assign_to_ivf, build_ivf, cluster_sizes, ivf_search, rebalance_ivf,
    )

    base = embeddings.where("vec_id < 400")
    newer = embeddings.where("vec_id >= 400").withColumn(
        "vec_id", F.col("vec_id") + 10_000
    )
    idx = build_ivf(base, n_clusters=8, vec_col="embedding", id_col="vec_id",
                    seed=3)
    appended = newer.unionByName(_tie_row(spark, 99_999, idx.centroids, 2, 5))
    merged = assign_to_ivf(idx, appended)
    assert merged.assigned.count() == embeddings.count() + 1
    with monkeypatch.context() as m:
        m.setattr(ann, "IVF_DRIVER_FIT_MAX_ELEMS", 0)
        mllib = build_ivf(base, n_clusters=8, vec_col="embedding",
                          id_col="vec_id", seed=3)
    cases = {
        "driver fit": (idx.assigned, idx.centroids),
        "mllib fit": (mllib.assigned, mllib.centroids),
        "append": (merged.assigned.where("vec_id >= 10000"), idx.centroids),
    }
    for name, (frame, C) in cases.items():
        V, got = _assigned_rows(frame)
        assert (got == _nearest(V, C)).all(), name

    # split the one largest cluster: its rows take the fresh ids after the
    # 7 kept clusters, by the same rule over its sub-centroids
    sizes = sorted(r.n for r in cluster_sizes(idx).collect())
    assert sizes[-1] > sizes[-2]
    reb = rebalance_ivf(idx, max_cluster_size=sizes[-1] - 1, seed=1)
    V, got = _assigned_rows(reb.assigned.where("__cluster >= 7"))
    assert len(got) == sizes[-1]
    assert (got == 7 + _nearest(V, reb.centroids[7:])).all()

    q = list(embeddings.limit(1).collect()[0]["embedding"])
    union = base.unionByName(appended)
    exact = [
        r.vec_id
        for r in knn(union, q, metric="cosine", k=10, vec_col="embedding",
                     id_col="vec_id", select=["vec_id", "score"]).collect()
    ]
    full = [
        r.vec_id
        for r in ivf_search(merged, q, k=10, nprobe=8,
                            metric="cosine").collect()
    ]
    assert full == exact


@pytest.mark.parametrize("metric", ["cosine", "euclid"])
def test_batch_full_probe_matches_exact_batch(spark, embeddings, ivfpq, metric):
    from qdrant_spark.operators.ann import ivf_pq_search_batch
    from qdrant_spark.operators.knn import knn_batch

    queries = embeddings.where("vec_id < 4").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = [
        (r.qid, r.vec_id, r.rank)
        for r in ivf_pq_search_batch(
            ivfpq, queries, k=5, nprobe=8, oversampling=24.0, metric=metric
        ).collect()
    ]
    want = [
        (r.qid, r.vec_id, r.rank)
        for r in knn_batch(
            embeddings, queries, metric=metric, k=5, vec_col="embedding",
            id_col="vec_id",
        ).select("qid", "vec_id", "rank").collect()
    ]
    assert sorted(got) == sorted(want)


def test_batch_pruned_recall(spark, embeddings, ivfpq):
    from qdrant_spark.operators.ann import ivf_pq_search_batch
    from qdrant_spark.operators.knn import knn_batch

    queries = embeddings.where("vec_id < 5").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = ivf_pq_search_batch(ivfpq, queries, k=10, nprobe=4,
                              oversampling=6.0, metric="cosine").collect()
    exact = knn_batch(embeddings, queries, metric="cosine", k=10,
                      vec_col="embedding", id_col="vec_id").collect()
    by_q: dict = {}
    for r in exact:
        by_q.setdefault(r.qid, set()).add(r.vec_id)
    hits = total = 0
    for r in got:
        total_set = by_q[r.qid]
        if r.vec_id in total_set:
            hits += 1
    total = sum(len(s) for s in by_q.values())
    assert hits / total >= 0.6


@pytest.mark.parametrize("mode", ["coarse", "fused"])
def test_batch_modes_match_exact_at_full_probe(spark, embeddings, ivfpq, mode):
    # both physical strategies (narrow coarse scan + join rescore vs fused
    # single-stage) must equal the exact batch at full probe — the
    # size-dispatch may pick either, so each is pinned explicitly
    from qdrant_spark.operators.ann import ivf_pq_search_batch
    from qdrant_spark.operators.knn import knn_batch

    queries = embeddings.where("vec_id < 4").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = [
        (r.qid, r.vec_id, r.rank)
        for r in ivf_pq_search_batch(
            ivfpq, queries, k=5, nprobe=8, oversampling=24.0,
            metric="cosine", mode=mode,
        ).collect()
    ]
    want = [
        (r.qid, r.vec_id, r.rank)
        for r in knn_batch(
            embeddings, queries, metric="cosine", k=5, vec_col="embedding",
            id_col="vec_id",
        ).select("qid", "vec_id", "rank").collect()
    ]
    assert sorted(got) == sorted(want)


def test_fused_mode_requires_vector_column(spark, embeddings, ivfpq):
    from qdrant_spark.operators.ann import IvfPqIndex, ivf_pq_search_batch

    narrow = IvfPqIndex(
        assigned=ivfpq.assigned.select("vec_id", "__pq", "__cluster"),
        centroids=ivfpq.centroids, codebooks=ivfpq.codebooks,
        vec_col="embedding", id_col="vec_id",
    )
    queries = embeddings.where("vec_id < 2").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    with pytest.raises(ValueError, match="fused"):
        ivf_pq_search_batch(narrow, queries, k=3, mode="fused")


def test_rebalance_ivf_splits_oversized_clusters(spark):
    import numpy as np

    from qdrant_spark.operators.ann import (
        build_ivf, cluster_sizes, ivf_search, rebalance_ivf,
    )
    from qdrant_spark.operators.knn import knn

    # skewed corpus: 400 points in one tight blob, 50 spread far away —
    # KMeans with k=4 puts most of the blob in one or two hot clusters
    rng = np.random.default_rng(7)
    blob = rng.normal(0.0, 0.05, size=(400, 8))
    far = rng.normal(5.0, 3.0, size=(50, 8))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(np.vstack([blob, far]))]
    df = spark.createDataFrame(rows, "id: long, vec: array<float>")
    idx = build_ivf(df, n_clusters=4, vec_col="vec", id_col="id", seed=1)
    before = {r.cluster: r.n for r in cluster_sizes(idx).collect()}
    assert max(before.values()) > 150  # skew exists

    reb = rebalance_ivf(idx, max_cluster_size=150, seed=1)
    after = {r.cluster: r.n for r in cluster_sizes(reb).collect()}
    # same corpus, more clusters, hot cluster tamed
    assert sum(after.values()) == sum(before.values()) == 450
    assert len(after) > len(before)
    assert max(after.values()) < max(before.values())
    assert len(reb.centroids) == len(after) or len(reb.centroids) >= max(after) + 1

    # search still exact at full probe after the split
    q = rows[3][1]
    exact = [r["id"] for r in knn(df, q, metric="euclid", k=5, vec_col="vec",
                                  id_col="id", select=["id", "score"]).collect()]
    got = [r["id"] for r in ivf_search(reb, q, k=5, nprobe=len(reb.centroids),
                                       metric="euclid").collect()]
    assert got == exact


def test_rebalance_ivf_noop_when_balanced(spark):
    import numpy as np

    from qdrant_spark.operators.ann import build_ivf, rebalance_ivf

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in v])
            for i, v in enumerate(rng.normal(0, 1, size=(100, 4)))]
    df = spark.createDataFrame(rows, "id: long, vec: array<float>")
    idx = build_ivf(df, n_clusters=4, vec_col="vec", id_col="id", seed=1)
    reb = rebalance_ivf(idx, max_cluster_size=1000)
    assert reb is idx


def test_ivf_pq_from_codebooks_matches_build(spark, embeddings, ivfpq):
    """Sampled-train / full-encode split: encoding a corpus against the
    build's frozen centroids+codebooks must reproduce the build's own
    cluster ids and PQ codes exactly (same argmin, same encoder); every
    row, one equidistant from two centroids included, takes the NumPy
    nearest centroid and ``quantize.pq_codes`` of its residual."""
    from qdrant_spark.operators.ann import ivf_pq_from_codebooks
    from qdrant_spark.operators.quantize import pq_codes

    C = ivfpq.centroids
    re_enc = ivf_pq_from_codebooks(
        embeddings.unionByName(_tie_row(spark, 99_999, C, 1, 6)),
        C, ivfpq.codebooks, vec_col="embedding", id_col="vec_id",
    )
    want = {r["vec_id"]: (r["__cluster"], list(r["__pq"]))
            for r in ivfpq.assigned.collect()}
    rows = re_enc.assigned.orderBy("vec_id").collect()
    got = {r["vec_id"]: (r["__cluster"], list(r["__pq"])) for r in rows}
    del got[99_999]  # the tie row: not in the build
    assert got == want

    V = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    cl = np.array([r["__cluster"] for r in rows])
    assert (cl == _nearest(V, C)).all()
    codes = np.array([list(r["__pq"]) for r in rows], dtype=np.int8)
    assert np.array_equal(codes, pq_codes(V - C[cl], ivfpq.codebooks))


def test_ivf_from_centroids_rejects_wrong_dimension(spark):
    """A vector whose length differs from the centroids' fails the
    assignment with both dimensions named — it is not put in cluster 0.
    Well-formed rows assign, a row exactly halfway between the two
    centroids to the lower id."""
    from qdrant_spark.operators.ann import ivf_from_centroids

    C = np.array([[0.0, 0.0, 0.0], [10.0, 10.0, 10.0]])
    schema = "id long, vec array<double>"
    ok = spark.createDataFrame([(1, [9.0, 9.0, 9.0]), (2, [5.0, 5.0, 5.0])],
                               schema)
    got = {r.id: r["__cluster"]
           for r in ivf_from_centroids(ok, C).assigned.collect()}
    assert got == {1: 1, 2: 0}
    for vec in ([9.0, 9.0], [9.0, 9.0, 9.0, 9.0]):
        bad = spark.createDataFrame([(3, vec)], schema)
        with pytest.raises(Exception, match=f"a vector has {len(vec)} "
                           "dimensions but the centroids have 3"):
            ivf_from_centroids(bad, C).assigned.collect()


def test_assign_to_ivf_pq_appends_and_searches(spark, embeddings, ivfpq):
    """Incremental IVF-PQ ingest: appended rows get frozen-codebook codes
    identical to a from-scratch encode, and full-probe search over the
    merged index ranks the (duplicated) appended twin of the query's own
    nearest neighbor at the top."""
    from qdrant_spark.operators.ann import (
        assign_to_ivf_pq, ivf_pq_search,
    )

    newer = embeddings.where("vec_id < 50").withColumn(
        "vec_id", F.col("vec_id") + 10_000)
    merged = assign_to_ivf_pq(ivfpq, newer)
    assert merged.assigned.count() == embeddings.count() + 50

    # appended codes equal the original rows' codes (same vectors)
    orig = {r["vec_id"]: (r["__cluster"], list(r["__pq"]))
            for r in ivfpq.assigned.where("vec_id < 50").collect()}
    app = {r["vec_id"] - 10_000: (r["__cluster"], list(r["__pq"]))
           for r in merged.assigned.where("vec_id >= 10000").collect()}
    assert app == orig

    # full-probe rescored search over the merged index: the query's exact
    # top hit and its appended twin must both appear with equal scores
    q = list(embeddings.where("vec_id = 7").collect()[0]["embedding"])
    hits = ivf_pq_search(merged, q, k=4, nprobe=8, oversampling=64.0,
                         metric="cosine").collect()
    ids = {r["vec_id"] for r in hits}
    assert {7, 10_007} <= ids
    by_id = {r["vec_id"]: round(r["score"], 9) for r in hits}
    assert by_id[7] == by_id[10_007]


def test_build_ivf_fit_dispatch(embeddings):
    """r14 fit dispatch (build_ivf): fit sets under IVF_DRIVER_FIT_MAX_ELEMS
    train driver-side (seeded kmeans++ best-of-4 — deterministic and
    balanced, no MLlib job barriers); forcing the cap to 0 takes the MLlib
    path. Both paths must agree at full probe (assignment only re-buckets
    rows; nprobe == K makes the search exact either way), and the driver
    fit must be reproducible run-to-run and free of the degenerate
    mega-clusters that defeat partial-probe pruning."""
    from qdrant_spark.operators import ann

    n = embeddings.count()
    a = ann.build_ivf(embeddings, n_clusters=8, vec_col="embedding",
                      id_col="vec_id")
    b = ann.build_ivf(embeddings, n_clusters=8, vec_col="embedding",
                      id_col="vec_id")
    assert np.array_equal(a.centroids, b.centroids)  # deterministic
    sizes = [r["count"] for r in
             a.assigned.groupBy("__cluster").count().collect()]
    assert sum(sizes) == n and max(sizes) <= 0.35 * n, sizes

    old = ann.IVF_DRIVER_FIT_MAX_ELEMS
    ann.IVF_DRIVER_FIT_MAX_ELEMS = 0
    try:
        ml = ann.build_ivf(embeddings, n_clusters=8, vec_col="embedding",
                           id_col="vec_id")
    finally:
        ann.IVF_DRIVER_FIT_MAX_ELEMS = old
    assert not np.array_equal(a.centroids, ml.centroids)  # paths distinct
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    got_a = [(r[0], round(r[1], 9)) for r in ann.ivf_search(
        a, q, k=10, nprobe=8, metric="cosine").collect()]
    got_ml = [(r[0], round(r[1], 9)) for r in ann.ivf_search(
        ml, q, k=10, nprobe=8, metric="cosine").collect()]
    assert got_a == got_ml


@pytest.mark.parametrize("mode", ["coarse", "fused"])
def test_batch_modes_tie_exact(spark, tied_points, mode):
    # every row ADC-scores and exact-scores the same: both the ADC
    # shortlist cut and the exact cut must keep ids by ascending id, as
    # the exact window does
    from qdrant_spark.operators.ann import ivf_pq_search_batch

    idx = build_ivf_pq(tied_points, n_clusters=1, n_subspaces=2,
                       n_centroids=2, vec_col="vec", id_col="id")
    queries = spark.createDataFrame([(0, [1.0, 0.0, 0.5, 0.0])],
                                    "qid long, qvec array<double>")
    got = ivf_pq_search_batch(idx, queries, k=5, nprobe=1, oversampling=2.0,
                              metric="cosine", mode=mode)
    assert [r["id"] for r in got.orderBy("rank").collect()] == [1, 2, 3, 4, 5]
