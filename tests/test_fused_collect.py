"""The collected finish of the Arrow top-k kernel (``knn.collect_topk``)
behind the fused batch groups of ``query_batch``: dense, quantized and
composed quantized x IVF groups pull the kernel's per-partition
candidates in one job and merge them on the driver. Each group must
return exactly what planning every request alone returns — ties, offset,
score_threshold and a smaller-is-better metric included — on a corpus
of several partitions, and must fall back to the ranked shuffle finish
when partitions x legs x k exceeds the driver budget.
"""

from __future__ import annotations

import os
import re

import pytest

from conftest import TIED_VEC
from qdrant_spark import query as Q
from qdrant_spark.operators import knn as K
from qdrant_spark.operators.ann import build_ivf
from qdrant_spark.operators.quantize import build_quant, compose_quant_ivf

K_LIMIT = 5


@pytest.fixture(scope="module")
def split_emb(spark, embeddings, tmp_path_factory):
    """The embeddings fixture as 3 parquet files (3 scan partitions)."""
    path = str(tmp_path_factory.mktemp("split_emb") / "emb")
    embeddings.select("vec_id", "embedding").repartition(3) \
        .write.parquet(path)
    return spark.read.parquet(path).withColumnRenamed("vec_id", "id") \
        .withColumnRenamed("embedding", "vec")


@pytest.fixture(scope="module")
def split_tied(spark, tied_points, tmp_path_factory):
    """The tied_points fixture (every row the same vector) as 3 files."""
    path = str(tmp_path_factory.mktemp("split_tied") / "tied")
    tied_points.select("id", "vec").repartition(3).write.parquet(path)
    return spark.read.parquet(path)


def _indexes(points, kind: str):
    if kind == "dense":
        return None
    h = build_quant(points, {"scalar": {"full_scan_threshold": 0}},
                    vec_col="vec", id_col="id")
    if kind == "quant":
        return {"vec": [h]}
    ivf = build_ivf(points, n_clusters=4, vec_col="vec", id_col="id")
    return {"vec": [h, compose_quant_ivf(h, ivf, nprobe=2)]}


def _requests(points, case: str):
    over = {"params": {"quantization": {"oversampling": 2.0}}}
    if case == "tied":
        return [{"query": {"nearest": TIED_VEC}, "limit": K_LIMIT, **over},
                {"query": {"nearest": [2 * x for x in TIED_VEC]},
                 "limit": 3, "offset": 2, **over}]
    qs = [list(r["vec"]) for r in points.orderBy("id").limit(3).collect()]
    return [
        {"query": {"nearest": qs[0]}, "limit": K_LIMIT, "offset": 2, **over},
        {"query": {"nearest": qs[1]}, "limit": K_LIMIT,
         "score_threshold": 0.3 if case == "threshold" else 1.2, **over},
        {"query": {"nearest": qs[2]}, "limit": 3, **over},
    ]


def _hits(rows) -> dict[int, list]:
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(r["request_idx"], []).append(
            (r["id"], round(r["score"], 9)))
    return out


@pytest.fixture
def spy(monkeypatch):
    """Records, per collect_topk call, the candidate frame's partition
    count, the physical plan of every frame pulled with toArrow, and the
    last QueryPlanner built."""
    from pyspark.sql.classic.dataframe import DataFrame

    seen = {"partitions": [], "plans": []}
    orig_collect, orig_arrow = K.collect_topk, DataFrame.toArrow
    orig_init = Q.QueryPlanner.__init__

    def init(self, *a, **kw):
        orig_init(self, *a, **kw)
        seen["planner"] = self

    def collect_topk(topk, max_rows):
        seen["partitions"].append(K._num_partitions(topk._qs_topk.frame))
        return orig_collect(topk, max_rows)

    def to_arrow(self):
        seen["plans"].append(
            self._jdf.queryExecution().executedPlan().toString())
        return orig_arrow(self)

    monkeypatch.setattr(K, "collect_topk", collect_topk)
    monkeypatch.setattr(DataFrame, "toArrow", to_arrow)
    monkeypatch.setattr(Q.QueryPlanner, "__init__", init)
    return seen


def _check_group(points, kind, metric, reqs, spy, counter):
    kw = dict(id_col="id", vec_col="vec", metric=metric, fuse_min_bytes=0,
              indexes=_indexes(points, kind))
    want = [Q.query_batch(points, [dict(r)], **kw).collect() for r in reqs]
    spy["partitions"].clear()
    spy["plans"].clear()
    got = _hits(Q.query_batch(points, [dict(r) for r in reqs],
                              **kw).collect())
    assert spy["planner"].last_plan_info.get(counter) == 1
    for i, w in enumerate(want):
        assert got.get(i, []) == [(r["id"], round(r["score"], 9))
                                  for r in w], i
    assert spy["partitions"] and min(spy["partitions"]) >= 2
    return got


COUNTERS = {"dense": "fused_groups", "quant": "quant_batch_groups",
            "quant_ivf": "quant_ivf_batch_groups"}


@pytest.mark.parametrize("kind", ["dense", "quant", "quant_ivf"])
@pytest.mark.parametrize("case,metric", [
    ("tied", "cosine"), ("threshold", "cosine"), ("euclid", "euclid")])
def test_collected_finish_matches_per_request_plans(
        split_emb, split_tied, spy, kind, case, metric):
    points = split_tied if case == "tied" else split_emb
    reqs = _requests(points, case)
    got = _check_group(points, kind, metric, reqs, spy, COUNTERS[kind])
    # the batch took the collected finish: no window was ever collected
    assert spy["plans"] and not any("Window" in p for p in spy["plans"])
    if case == "tied":
        # every row ties: the exact top-k is the smallest ids
        assert [h[0] for h in got[0]] == list(range(1, K_LIMIT + 1))
        assert [h[0] for h in got[1]] == [3, 4, 5]


@pytest.mark.parametrize("kind", ["dense", "quant", "quant_ivf"])
def test_collect_budget_falls_back_to_ranked_shuffle(
        split_emb, spy, monkeypatch, kind):
    """partitions x legs x k above FUSED_COLLECT_MAX (but legs x k within
    it): the group runs the ranked shuffle finish and returns the same
    hits."""
    reqs = _requests(split_emb, "threshold")
    # legs x coarse width: k = limit+offset = 7, quantized groups widen
    # it by the oversampling (2.0)
    width = 7 if kind == "dense" else 14
    monkeypatch.setattr(Q, "FUSED_COLLECT_MAX", len(reqs) * width)
    _check_group(split_emb, kind, "cosine", reqs, spy, COUNTERS[kind])
    assert min(spy["partitions"]) * len(reqs) * width > Q.FUSED_COLLECT_MAX
    assert spy["plans"] and all("Window" in p for p in spy["plans"])


def test_collect_topk_arrays_are_query_major(split_emb):
    """collect_topk returns what collecting the ranked frame returns,
    sorted by (qid, rank), through either finish."""
    import numpy as np

    Qm = np.asarray([list(r["vec"]) for r in split_emb.limit(3).collect()])
    kw = dict(metric="euclid", k=4, vec_col="vec", id_col="id",
              qid_col="qid", qvec_col="qvec", score_threshold=None,
              q_data=([0, 1, 2], Qm))
    ranked = sorted((r["qid"], r["rank"], r["id"], r["score"]) for r in
                    K._matmul_knn(split_emb, None, **kw).collect())
    for max_rows in (10**6, 0):
        qid, ids, score, rank = K.collect_topk(
            K._matmul_knn(split_emb, None, **kw), max_rows)
        assert list(zip(qid.tolist(), rank.tolist(), ids.tolist(),
                        score.tolist())) == ranked


def test_fused_batches_release_query_broadcasts(spark, split_emb):
    """The collected finish destroys its query broadcast: three fused
    batches leave no broadcast file behind in the driver's temp dir."""
    qs = [list(r["vec"]) for r in split_emb.limit(2).collect()]
    reqs = [{"query": {"nearest": q}, "limit": 3} for q in qs]
    tmp = spark.sparkContext._temp_dir
    before = len(os.listdir(tmp))
    for _ in range(3):
        Q.query_batch(split_emb, reqs, id_col="id", vec_col="vec",
                      fuse_min_bytes=0).collect()
    assert len(os.listdir(tmp)) == before


def test_fused_dense_mixed_dimensions_raise(split_emb):
    """Legs of different query dimensions in one fused dense group fail
    at plan time, naming the request and both dimensions."""
    q = list(split_emb.limit(1).collect()[0]["vec"])
    reqs = [{"query": {"nearest": q}, "limit": 3},
            {"query": {"nearest": q[:63]}, "limit": 3}]
    with pytest.raises(ValueError, match=r"request 1\b.*63.*request 0\b.*64"):
        Q.query_batch(split_emb, reqs, id_col="id", vec_col="vec",
                      fuse_min_bytes=0)


def test_fused_dense_wrong_dimension_raises(split_emb):
    """A fused dense group whose every leg has the wrong dimension fails
    in-plan, naming both dimensions, instead of returning no hits."""
    q = list(split_emb.limit(1).collect()[0]["vec"])[:63]
    reqs = [{"query": {"nearest": q}, "limit": 3},
            {"query": {"nearest": [2 * x for x in q]}, "limit": 3}]
    with pytest.raises(Exception, match=r"63 dimensions.*vec vectors have 64"):
        Q.query_batch(split_emb, reqs, id_col="id", vec_col="vec",
                      fuse_min_bytes=0).collect()


def test_fused_zero_limit_batch_matches_per_request_plans(split_emb):
    """A fused dense batch of ``limit: 0`` requests returns what each
    request planned alone returns: no hits (the kernel's cut of k = 0
    keeps nothing instead of failing)."""
    qs = [list(r["vec"]) for r in split_emb.limit(3).collect()]
    reqs = [{"query": {"nearest": q}, "limit": 0} for q in qs]
    kw = dict(id_col="id", vec_col="vec", fuse_min_bytes=0)
    want = [Q.query_batch(split_emb, [dict(r)], **kw).collect() for r in reqs]
    assert want == [[], [], []]
    assert Q.query_batch(split_emb, reqs, **kw).collect() == []
    assert K.knn(split_emb, qs[0], k=0, arrow_dispatch_bytes=0).collect() == []


@pytest.mark.parametrize("kind", ["dense", "quant", "maxsim"])
def test_within_budget_batch_builds_no_window(split_emb, spy, monkeypatch,
                                              kind):
    """A fused dense, quantized or exact MaxSim batch within the driver
    budget never builds the ranked window (knn.ranked): the kernel's
    candidates merge on the driver. The dense scan carries no width
    filter; the kernel checks widths."""
    from pyspark.sql import functions as F

    calls = []
    orig = K.ranked
    monkeypatch.setattr(K, "ranked",
                        lambda *a, **k: calls.append(1) or orig(*a, **k))
    qs = [list(r["vec"]) for r in split_emb.orderBy("id").limit(3).collect()]
    kw = dict(id_col="id", fuse_min_bytes=0)
    if kind == "maxsim":
        points = split_emb.select("id", F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda i: F.slice("vec", i * 8 + 1, 8)).alias("mv"))
        qs = [[q[t * 8:(t + 1) * 8] for t in range(8)] for q in qs]
        kw.update(vec_col="mv", metric="dot")
        counter = "maxsim_batch_groups"
    else:
        points = split_emb
        kw.update(vec_col="vec", indexes=_indexes(points, kind))
        counter = COUNTERS[kind]
    reqs = [{"query": {"nearest": q}, "limit": K_LIMIT} for q in qs]
    rows = Q.query_batch(points, reqs, **kw).collect()
    assert len(rows) == 3 * K_LIMIT
    assert spy["planner"].last_plan_info.get(counter) == 1
    assert calls == []
    if kind == "dense":
        (plan,) = spy["plans"]
        assert not re.search(r"\bFilter\b", plan)
        assert "dimensions" not in plan
