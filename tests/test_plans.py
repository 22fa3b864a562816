"""Physical-plan regression tests: the scale claims in README ("Scale
design") asserted against `.explain` output, so a refactor that silently
de-optimizes a plan (lost pushdown, a broadcast that became a sort-merge
join, a top-k that became a global sort) fails CI, not a 100 TB run.
"""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from qdrant_spark.filters import apply_filter
from qdrant_spark.operators.knn import knn


def _plan(df, mode: str = "formatted") -> str:
    jdf = df._jdf
    return jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


@pytest.fixture(scope="module")
def docs_path(documents):
    return documents


def test_filter_pushdown_reaches_parquet(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    flt = {"must": [{"key": "lang", "match": {"value": "en"}},
                    {"key": "n_chars", "range": {"gt": 10}}]}
    plan = _plan(apply_filter(df, flt).select("doc_id"))
    assert "PushedFilters:" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "lang" in pushed and "n_chars" in pushed


def test_projection_prunes_scan_columns(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(df.select("doc_id", "lang"))
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read and "lang" in read and "text" not in read


def test_single_knn_is_take_ordered(embeddings):
    q = [0.0] * 64
    df = knn(embeddings, q, metric="cosine", k=10, vec_col="embedding",
             id_col="vec_id", select=["vec_id", "score"])
    plan = _plan(df, "simple")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_bm25_index_search_all_broadcast(documents):
    from qdrant_spark.operators.sparse import bm25_search_index, build_bm25_index

    idx = build_bm25_index(documents)
    df = bm25_search_index(idx, "quality data fox")
    plan = _plan(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_batch_prunes_clusters_no_join(embeddings, spark):
    """The probe map is broadcast inside the Arrow scorer; the plan must be
    a cluster-pruning filter + one MapInArrow — never a pair-materializing
    join or cross product."""
    from qdrant_spark.operators.ann import build_ivf, ivf_search_batch

    idx = build_ivf(embeddings, n_clusters=4, vec_col="embedding", id_col="vec_id")
    qdf = spark.createDataFrame(
        [(0, [0.0] * 64)], "qid: long, qvec: array<float>"
    )
    df = ivf_search_batch(idx, qdf, k=5, nprobe=2)
    plan = _plan(df, "simple")
    assert "MapInArrow" in plan
    assert "__cluster" in plan  # pruning filter present
    assert "CartesianProduct" not in plan and "Join" not in plan


def test_sq_coarse_stage_is_one_arrow_scan(embeddings, tmp_path):
    """A single-request scalar coarse stage is ONE codec scan over the
    narrow (id, __sq) columns finished by a top-k sort: no per-qid
    window shuffle, and on split storage the scan never reads the float
    vector column."""
    from qdrant_spark.operators.quantize import (
        build_quant, persist_quant, sq_search,
    )

    h = persist_quant(
        build_quant(embeddings, {"scalar": {}}, vec_col="embedding",
                    id_col="vec_id"),
        str(tmp_path / "sq"))
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    df = sq_search(h.index, q, k=5, metric="cosine", rescore=False)
    plan = _plan(df, "simple")
    arrow = [ln for ln in plan.splitlines() if "MapInArrow" in ln]
    assert len(arrow) == 1
    assert "(vec_id#" in arrow[0] and ", __sq#" in arrow[0]
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all("embedding" not in ln for ln in scans)


def test_grouped_search_no_global_single_partition_window(embeddings):
    """group_by windows must partition by the group key (or qid), never an
    empty partition spec over unbounded input."""
    from qdrant_spark.operators.groupby import group_by

    scored = embeddings.select(
        "vec_id", "label", F.rand(7).alias("score")
    )
    df = group_by(scored, "label", groups=3, group_size=2, id_col="vec_id")
    plan = _plan(df, "simple")
    # the per-group ranking window partitions by the group key
    wins = [l for l in plan.splitlines() if "Window" in l]
    assert wins and any("group_value" in w or "label" in w for w in wins)


def test_single_knn_dispatches_to_arrow_above_threshold(embeddings):
    # the analogue of the reference's full_scan_threshold dispatch
    # (read_view dispatch.rs:56-176): big corpus -> block-matmul scorer
    q = [0.0] * 64
    df = knn(embeddings, q, metric="cosine", k=10, vec_col="embedding",
             id_col="vec_id", select=["vec_id", "score"], arrow_dispatch_bytes=0)
    plan = _plan(df, "simple")
    assert "MapInArrow" in plan or "mapInArrow" in plan
    # small corpus (below cutoff) keeps the zero-python column plan
    df2 = knn(embeddings, q, metric="cosine", k=10, vec_col="embedding",
              id_col="vec_id", select=["vec_id", "score"])
    assert "MapInArrow" not in _plan(df2, "simple")


def test_arrow_single_knn_id_score_scans_once(embeddings):
    """The Q=1 Arrow path must NOT re-join winners onto the corpus when
    the caller only wants (id, score) — that join re-scans the entire
    table a second time (r8: single-query exact at 2M rows 4.5s -> 1.2s)."""
    q = [0.0] * 64
    df = knn(embeddings, q, metric="cosine", k=10, vec_col="embedding",
             id_col="vec_id", select=["vec_id", "score"], arrow_dispatch_bytes=0)
    plan = _plan(df, "simple")
    assert "Join" not in plan
    # asking for a payload column legitimately brings the join back
    df2 = knn(embeddings, q, metric="cosine", k=10, vec_col="embedding",
              id_col="vec_id", select=["vec_id", "label", "score"],
              arrow_dispatch_bytes=0)
    assert "BroadcastHashJoin" in _plan(df2, "simple")


def test_grouped_search_group_ranking_is_bounded(embeddings):
    """Group ranking runs over per-group head rows capped by a limit
    (TakeOrderedAndProject), with the winners broadcast-joined back —
    never a dense_rank window over the full capped-hit set (r8 rework:
    the old global window funneled distinct_groups x group_size rows
    through ONE partition)."""
    from qdrant_spark.operators.groupby import group_by

    scored = embeddings.select("vec_id", "label", F.rand(7).alias("score"))
    df = group_by(scored, "label", groups=3, group_size=2, id_col="vec_id")
    plan = _plan(df, "simple")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    # map-side top-k pushdown on the per-group row_number windows
    assert "WindowGroupLimit" in plan


def test_knn_score_expr_from_sql_matches_column_builders(embeddings):
    """distance_to_lit (one-round-trip SQL text) must score bit-identical
    to the Column builders it replaces."""
    from qdrant_spark.functions.distances import distance, distance_to_lit

    q = [float(i) / 64 for i in range(64)]
    for metric in ("cosine", "dot", "euclid", "manhattan"):
        a = embeddings.select(
            "vec_id", distance_to_lit(metric, "embedding", q).alias("s"))
        b = embeddings.select(
            "vec_id", distance(metric, F.col("embedding"), F.lit(q)).alias("s"))
        rows_a = {r["vec_id"]: r["s"] for r in a.collect()}
        rows_b = {r["vec_id"]: r["s"] for r in b.collect()}
        assert rows_a == rows_b, metric  # exact equality, not approx


def test_persisted_ivf_probe_is_partition_pruned(embeddings, tmp_path):
    from qdrant_spark.operators.ann import build_ivf, ivf_search, persist_ivf

    idx = persist_ivf(
        build_ivf(embeddings, n_clusters=4, vec_col="embedding", id_col="vec_id"),
        str(tmp_path / "ivf"),
    )
    q = [0.0] * 64
    df = ivf_search(idx, q, k=5, nprobe=1, metric="cosine")
    plan = _plan(df)
    # the cluster probe must reach the scan as a partition filter
    assert "PartitionFilters" in plan and "__cluster" in plan.split("PartitionFilters", 1)[1][:200]


def test_curation_quality_has_no_exchange(documents):
    """gopher_quality is per-row column math: any Exchange in the plan
    means a refactor introduced a shuffle into a map-only operator."""
    from qdrant_spark.operators.curation import gopher_quality

    plan = _plan(gopher_quality(documents), "simple")
    assert "Exchange" not in plan


def test_stratified_fraction_sample_is_map_only(documents):
    from qdrant_spark.operators.curation import stratified_sample

    plan = _plan(
        stratified_sample(documents, "lang", 0.5, id_col="doc_id"), "simple"
    )
    assert "Exchange" not in plan and "Window" not in plan


def test_weighted_sample_is_map_only(documents):
    from qdrant_spark.operators.curation import weighted_sample

    d = documents.withColumn("__p", F.lit(0.5))
    plan = _plan(weighted_sample(d, "__p", id_col="doc_id"), "simple")
    assert "Exchange" not in plan


def test_chunking_is_partition_local(documents):
    from qdrant_spark.operators.curation import chunk_documents

    plan = _plan(chunk_documents(documents, size=32, overlap=8), "simple")
    assert "Exchange" not in plan
    assert "Generate" in plan  # the posexplode


def test_decontaminate_broadcasts_benchmark_grams(documents):
    """The benchmark gram set must broadcast; the training side must never
    sort-merge-join (that would shuffle corpus-sized gram lists)."""
    from qdrant_spark.operators.curation import decontaminate

    bench = documents.where("doc_id % 17 = 0")
    train = documents.where("doc_id % 17 <> 0")
    plan = _plan(decontaminate(train, bench, n=3), "simple")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_projection_is_codegen_no_udf(embeddings):
    """Signed random projection must stay in codegen'd column expressions —
    no python workers (ArrowEvalPython/BatchEvalPython) in the plan."""
    from qdrant_spark.operators.curation import (
        project_embeddings, random_sign_matrix,
    )

    plan = _plan(
        project_embeddings(embeddings, random_sign_matrix(64, 4, seed=1)),
        "simple",
    )
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


def test_ivf_pq_coarse_reads_only_code_columns(embeddings, tmp_path):
    """The persisted IVF-PQ coarse stage must (a) partition-prune on
    __cluster and (b) NOT read the full-precision vector column — the
    whole point of scanning codes."""
    from qdrant_spark.operators.ann import (
        build_ivf_pq, ivf_pq_search, persist_ivf_pq,
    )

    idx = persist_ivf_pq(
        build_ivf_pq(embeddings, n_clusters=4, n_subspaces=8, n_centroids=16,
                     vec_col="embedding", id_col="vec_id", seed=3),
        str(tmp_path / "pq"),
    )
    q = [0.1] * 64
    coarse = ivf_pq_search(idx, q, k=5, nprobe=2, metric="cosine",
                           rescore=False)
    plan = _plan(coarse)
    scans = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scans and any("__cluster" in l for l in scans)
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads and all("embedding" not in l for l in reads)


def test_incremental_ivf_assignment_is_map_only(embeddings, tmp_path):
    """assign_to_ivf is the live-ingest path: appending to a persisted
    index is map-only (no shuffle), and the nearest-centroid kernel is
    ONE Arrow eval fed only the vector column — payload columns never
    cross into Python."""
    from qdrant_spark.operators.ann import (
        assign_to_ivf, build_ivf, persist_ivf,
    )

    idx = persist_ivf(
        build_ivf(embeddings.where("vec_id < 100"), n_clusters=4,
                  vec_col="embedding", id_col="vec_id", seed=3),
        str(tmp_path / "ivf"))
    newer = embeddings.where("vec_id >= 100")
    merged = assign_to_ivf(idx, newer)
    plan = _plan(merged.assigned, "simple")
    assert "Exchange" not in plan
    evals = [l for l in plan.splitlines() if "EvalPython" in l]
    assert len(evals) == 1
    assert re.search(r"ArrowEvalPython \[\w+\(embedding#\d+\)#\d+\]",
                     evals[0]), evals[0]


def test_repetition_signals_zero_exchange(spark):
    from qdrant_spark.operators.curation import repetition_signals

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(repetition_signals(df), "simple")
    assert "Exchange" not in plan  # pure per-row column expressions


def test_c4_line_filter_zero_exchange(spark):
    from qdrant_spark.operators.curation import c4_line_filter

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(c4_line_filter(df), "simple")
    assert "Exchange" not in plan


def test_paragraph_dedup_no_window_over_para(spark):
    from qdrant_spark.operators.dedup import paragraph_dedup

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(paragraph_dedup(df), "simple")
    # skew-safe shape: NO window over the raw paragraph value (a
    # boilerplate span would pin all its occurrences on one task) — the
    # first occurrence is a map-side-combined min() agg on md5(para),
    # joined back on the uniformly-distributed (id, pos) key
    assert "Window" not in plan
    assert "partial_min" in plan
    assert "md5" in plan


def test_mixture_sample_is_broadcast_plus_filter(spark):
    from qdrant_spark.operators.curation import mixture_sample

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = mixture_sample(df, "lang", {"en": 0.5, "fr": 0.5}, id_col="doc_id")
    plan = _plan(out, "simple")
    # stratum stats and the scalar T reach the corpus via broadcast joins —
    # never a sort-merge join of the corpus
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lm_score_vocab_broadcasts(spark):
    from qdrant_spark.operators.curation import lm_score

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # eager model (r15 default): the top-V vocab is collected by a
    # bounded eager job and re-enters as a broadcast LocalRelation —
    # the scoring plan scans the corpus ONCE and carries no in-plan
    # token-agg subtree
    plan = _plan(lm_score(df, vocab_size=100), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "LocalTableScan" in plan
    assert plan.count("Scan parquet") + plan.count("FileScan") <= 2
    # lazy model keeps the in-plan top-V: a TakeOrdered, not a
    # single-partition global sort window
    lazy = _plan(lm_score(df, vocab_size=100, eager_model=False), "simple")
    assert "BroadcastHashJoin" in lazy
    assert "SortMergeJoin" not in lazy
    assert "TakeOrderedAndProject" in lazy


def test_multilingual_fmm_tokenize_stays_jvm_side(documents):
    """Chinese dictionary segmentation (r7): the multilingual tokenizer
    without a stemmer compiles to pure Column expressions — the FMM is a
    longest-first regex alternation and the OOV bigram fallback a
    transform/sequence HOF, so there must be NO python worker stage."""
    from qdrant_spark.functions.text import tokenize

    df = documents.select(
        tokenize("text", tokenizer="multilingual").alias("toks"))
    plan = _plan(df, "simple")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "mapInArrow" not in plan


def test_local_df_nan_in_map_falls_back(spark):
    # r15 ADVICE fix: a NaN inside a MapType cell must take the plain
    # createDataFrame path (Arrow would silently convert it to NULL)
    from qdrant_spark.session import local_df

    df = local_df(spark, [({"a": float("nan")},)], "m map<string,double>")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan
    v = df.collect()[0]["m"]["a"]
    assert v != v  # NaN preserved, not NULL


def test_local_result_df_builds_one_frame(spark, monkeypatch):
    """Driver-side hits become ONE frame with at most one isLocal()
    check: a local relation, or one slice when a score is NaN (which
    stays NaN, not NULL)."""
    from pyspark.sql import types as T
    from pyspark.sql.classic.dataframe import DataFrame

    import qdrant_spark.query as Q

    calls = []
    is_local, create = DataFrame.isLocal, type(spark).createDataFrame
    monkeypatch.setattr(DataFrame, "isLocal",
                        lambda self: calls.append("isLocal") or is_local(self))
    monkeypatch.setattr(type(spark), "createDataFrame",
                        lambda self, *a, **k: calls.append("frame")
                        or create(self, *a, **k))
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("score", T.DoubleType())])
    for rows in ([(1, 0.5), (2, 0.25)], [(1, float("nan")), (2, 0.25)]):
        calls.clear()
        df = Q._local_result_df(spark, Q._Hits(schema, rows, True))
        assert calls.count("frame") == 1 and calls.count("isLocal") <= 1
        nan = rows[0][1] != rows[0][1]
        assert df.rdd.getNumPartitions() == 1 if nan else is_local(df)
        got = [(r["id"], r["score"]) for r in df.collect()]
        assert got[1] == (2, 0.25) and (got[0][1] != got[0][1]) == nan


def test_fused_dense_batch_is_one_job(spark, embeddings, tmp_path,
                                      monkeypatch):
    """A fused dense query_batch runs exactly ONE Spark job: the Arrow
    kernel's candidates (MapInArrow, no Exchange) are pulled with
    toArrow and merged on the driver — no shuffle, no window job."""
    from pyspark.sql.classic.dataframe import DataFrame

    from qdrant_spark.query import query_batch

    path = str(tmp_path / "emb")
    embeddings.repartition(3).write.parquet(path)
    pts = spark.read.parquet(path)
    qs = [list(r["embedding"]) for r in embeddings.limit(3).collect()]
    reqs = [{"query": {"nearest": q}, "limit": 5} for q in qs]
    plans = []
    orig = DataFrame.toArrow

    def to_arrow(self):
        plans.append(_plan(self, "simple"))
        return orig(self)

    monkeypatch.setattr(DataFrame, "toArrow", to_arrow)
    sc = spark.sparkContext
    sc.setJobGroup("fused-dense-one-job", "fused dense batch")
    try:
        rows = query_batch(pts, reqs, id_col="vec_id", vec_col="embedding",
                           fuse_min_bytes=0).collect()
    finally:
        sc._jsc.clearJobGroup()
    assert len(rows) == 15
    assert len(sc.statusTracker().getJobIdsForGroup("fused-dense-one-job")) == 1
    (plan,) = plans
    assert "MapInArrow" in plan
    assert "Exchange" not in plan


def test_fused_maxsim_batch_is_one_job(spark, embeddings, tmp_path):
    """An exact fused MaxSim query_batch group runs exactly ONE Spark
    job, like the fused dense group: the batch MaxSim kernel's
    candidates are merged on the driver (knn.collect_topk)."""
    from qdrant_spark.query import query_batch

    d_mv = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: F.slice(F.col("embedding").cast("array<double>"),
                          i * 8 + 1, 8))
    path = str(tmp_path / "mv")
    embeddings.select("vec_id", d_mv.alias("mv")).repartition(3) \
        .write.parquet(path)
    pts = spark.read.parquet(path)
    qs = [[list(r["embedding"])[t * 8:(t + 1) * 8] for t in range(8)]
          for r in embeddings.limit(3).collect()]
    reqs = [{"query": {"nearest": q}, "limit": 5} for q in qs]
    sc = spark.sparkContext
    sc.setJobGroup("fused-maxsim-one-job", "fused maxsim batch")
    try:
        rows = query_batch(pts, reqs, id_col="vec_id", vec_col="mv",
                           metric="dot", fuse_min_bytes=0).collect()
    finally:
        sc._jsc.clearJobGroup()
    assert len(rows) == 15
    assert len(sc.statusTracker().getJobIdsForGroup("fused-maxsim-one-job")) == 1


@pytest.fixture(scope="module")
def mix_client(spark):
    """A client collection shaped like the benchmark's client mix: a
    dense 8-d cosine vector, a sparse ``text`` vector and a typed
    payload."""
    import numpy as np

    from qdrant_spark.client import QdrantSparkClient

    rng = np.random.default_rng(5)
    c = QdrantSparkClient(spark)
    c.create_collection("jobs", vectors_config={"size": 8,
                                                "distance": "Cosine"},
                        sparse_vectors_config={"text": {}})
    c.upsert("jobs", [
        {"id": i,
         "vector": {"": rng.normal(size=8).tolist(),
                    "text": {"indices": sorted(rng.choice(40, 4, replace=False)
                                               .tolist()),
                             "values": rng.random(4).tolist()}},
         "payload": {"cat": "abcde"[i % 5], "price": float(i % 100)}}
        for i in range(300)])
    return c


_Q8 = [0.3, -0.1, 0.8, 0.2, -0.5, 0.4, 0.1, -0.2]
_HYBRID = {"prefetch": [
    {"query": _Q8, "limit": 10},
    {"query": {"indices": [1, 5, 9], "values": [0.5, 0.3, 0.2]},
     "using": "text", "limit": 10}], "query": {"fusion": "rrf"}, "limit": 5}
#: two fused dense requests (below) and one RRF hybrid in one batch
_MIXED_BATCH = [{"query": _Q8, "limit": 3}, {"query": _Q8[::-1], "limit": 3},
                _HYBRID]
_READS = {
    "query_points": lambda c: c.query_points("jobs", query=_Q8, limit=5),
    "filtered": lambda c: c.query_points(
        "jobs", query=_Q8, limit=5, query_filter={"must": [
            {"key": "cat", "match": {"value": "a"}},
            {"key": "price", "range": {"lt": 50.0}}]}),
    "groups": lambda c: c.query_points_groups(
        "jobs", group_by="cat", query=_Q8, limit=3, group_size=2),
    "batch": lambda c: c.query_batch_points(
        "jobs", [{"query": _Q8, "limit": 3},
                 {"query": _Q8[::-1], "limit": 3}]),
    "hybrid": lambda c: c.query_points("jobs", **_HYBRID),
    "batch_mixed": lambda c: _fused(c.query_batch_points, "jobs",
                                    _MIXED_BATCH),
}


def _fused(fn, *a, min_bytes: int = 0):
    """``fn(*a)`` with exact dense fusion on from ``min_bytes`` of corpus
    (the module default the client's planners read)."""
    import qdrant_spark.query as Q

    old, Q.FUSE_MIN_BYTES = Q.FUSE_MIN_BYTES, min_bytes
    try:
        return fn(*a)
    finally:
        Q.FUSE_MIN_BYTES = old


@pytest.mark.parametrize("kind,jobs", [
    ("query_points", 1), ("filtered", 1), ("groups", 1), ("batch", 1),
    ("hybrid", 2), ("batch_mixed", 3)])
def test_client_read_job_count(spark, mix_client, kind, jobs):
    """Each exact client read kind runs its pinned number of Spark jobs,
    all under the caller's job group: the hydration columns ride through
    the top-k, groups form on the driver, and a fused query runs one job
    per prefetch leg with no hydration job. No ungrouped job id appears:
    the tracker may evict old ids during the read, so the ids are
    compared as sets, not counted."""
    sc = spark.sparkContext
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    group = f"read-{kind}"
    sc.setJobGroup(group, kind)
    try:
        out = _READS[kind](mix_client)
    finally:
        sc._jsc.clearJobGroup()
    assert out
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs
    assert not set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped


@pytest.mark.parametrize("kind,frames", [
    ("quant_batch", 1), ("rrf_plan", 1), ("client_hybrid", 0),
    ("dense_batch", 1)])
def test_local_frames_per_read(embeddings, mix_client, monkeypatch, kind,
                               frames):
    """Driver-side hits become a DataFrame only where a caller uses the
    public result as a frame, and then once: a 16-request quantized
    batch, an RRF root over three fused dense legs and a 16-request fused
    dense batch build no local frame when they are collected, and one
    when the same result is then counted and joined (``frames``); the
    client's RRF hybrid builds none."""
    import qdrant_spark.query as Q

    qs = [list(r["embedding"]) for r in embeddings.limit(16).collect()]
    reqs = [{"query": {"nearest": q}, "limit": 5} for q in qs]
    kw = dict(id_col="vec_id", vec_col="embedding")
    if kind == "quant_batch":
        from qdrant_spark.operators.quantize import build_quant

        h = build_quant(embeddings, {"scalar": {"full_scan_threshold": 0}},
                        vec_col="embedding", id_col="vec_id")

        def read():
            return Q.query_batch(embeddings, reqs,
                                 indexes={"embedding": [h]}, **kw)
    elif kind == "dense_batch":
        def read():
            return Q.query_batch(embeddings, reqs, fuse_min_bytes=0, **kw)
    elif kind == "rrf_plan":
        pl = Q.QueryPlanner(embeddings, id_col="vec_id",
                            default_vec_col="embedding", fuse_min_bytes=0)

        def read():
            return pl.plan({"prefetch": reqs[:3], "query": {"fusion": "rrf"},
                            "limit": 5})
    else:
        def read():
            return _READS["hybrid"](mix_client)
    built = []
    conv = Q._local_result_df

    def spy(*a, **k):
        built.append(kind)
        return conv(*a, **k)

    monkeypatch.setattr(Q, "_local_result_df", spy)
    res = read()
    out = res.points if kind == "client_hybrid" else res.collect()
    assert len(out) == (80 if kind.endswith("batch") else 5)
    assert built == []
    if kind != "client_hybrid":
        assert res.count() == len(out)
        assert res.join(embeddings, "vec_id").count() == len(out)
    assert len(built) == frames


def test_lazy_result_matches_local_frame(spark):
    """The public lazy result over driver-side hits answers collect(),
    toArrow(), count() and its schema as the frame _local_result_df
    builds does: a NaN score, carried payload columns and an empty
    result included."""
    from pyspark.sql import DataFrame
    from pyspark.sql import types as T

    import qdrant_spark.query as Q

    pl = Q.QueryPlanner(spark.range(1))
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("cat", T.StringType()),
        T.StructField("tags", T.ArrayType(T.StringType()))])
    for rows in ([(3, 0.5, "a", ["x"]), (1, float("nan"), None, []),
                  (2, 0.25, "b", None)],
                 [(3, 0.5, "a", ["x", "y"]), (2, 0.25, "b", ["z"])],
                 []):
        hits = Q._Hits(schema, rows, True)
        lazy, built = pl._frame(hits), Q._local_result_df(spark, hits)
        assert isinstance(lazy, DataFrame)
        assert lazy.schema == built.schema
        assert lazy.columns == built.columns
        got, want = lazy.collect(), built.collect()
        assert [list(r.__fields__) for r in got] \
            == [list(r.__fields__) for r in want]
        assert repr(got) == repr(want)  # NaN equals NaN only as text
        got, want = lazy.toArrow(), built.toArrow()
        assert got.schema == want.schema
        assert repr(got.to_pylist()) == repr(want.to_pylist())
        assert lazy.count() == built.count() == len(rows)


#: py4j round trips of the 16-request fused dense batch below: 78 when
#: pinned, plus a margin (301 while the batch still built its top-k
#: window, its scan's width filter and its result frame)
PY4J_FUSED_DENSE_BATCH = 90


def test_fused_dense_batch_py4j_calls(embeddings, monkeypatch):
    """The driver floor of a 16-request fused dense
    ``query_batch(...).collect()``: its py4j round trips stay under a
    pin, so plan objects nothing runs cannot creep back. The batch
    builds no top-k window and no result frame; its collect() reads the
    driver's hits. py4j's garbage-collection notices are not counted:
    they follow Python's collector, not the read."""
    import py4j.clientserver
    import py4j.java_gateway
    from py4j import protocol

    import qdrant_spark.query as Q

    qs = [list(r["embedding"]) for r in embeddings.limit(16).collect()]
    reqs = [{"query": {"nearest": q}, "limit": 5} for q in qs]

    def read():
        return Q.query_batch(embeddings, reqs, id_col="vec_id",
                             vec_col="embedding", fuse_min_bytes=0).collect()

    read()  # warm: first-use caches of the session stay out of the count
    gc_note = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    calls = []

    def counted(orig):
        def send(self, command, *a, **k):
            if not command.startswith(gc_note):
                calls.append(1)
            return orig(self, command, *a, **k)
        return send

    for owner in (py4j.clientserver.ClientServerConnection,
                  py4j.java_gateway.GatewayConnection):
        monkeypatch.setattr(owner, "send_command",
                            counted(owner.send_command))
    assert len(read()) == 80
    assert len(calls) <= PY4J_FUSED_DENSE_BATCH


def test_client_mixed_fused_batch_matches_unfused(mix_client):
    """A batch of two fused dense requests and one RRF hybrid answers as
    the same batch with fusion off: ids, scores and payloads."""
    def points(resps):
        return [[(p.id, round(p.score, 9), p.payload) for p in r.points]
                for r in resps]

    got = points(_READS["batch_mixed"](mix_client))
    want = points(_fused(mix_client.query_batch_points, "jobs", _MIXED_BATCH,
                         min_bytes=1 << 62))
    assert [len(r) for r in got] == [3, 3, 5]
    assert got == want


def test_client_query_points_plan_has_no_exchange(mix_client, monkeypatch):
    """query_points collects one top-k plan that carries the payload: no
    broadcast of the collection for a hydration join, no shuffle."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans = []
    orig = DataFrame.collect

    def collect(self):
        plans.append(_plan(self, "simple"))
        return orig(self)

    monkeypatch.setattr(DataFrame, "collect", collect)
    res = _READS["query_points"](mix_client)
    assert res.points[0].payload
    (plan,) = plans
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" not in plan and "Exchange" not in plan
