"""Formula compiler, MMR, mutations, IVF-ANN, and the universal query planner."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from qdrant_spark.operators.formula import rescore_formula
from qdrant_spark.operators.mmr import mmr, mmr_rerank_pd
from qdrant_spark.operators.mutate import (
    delete_points,
    delete_vectors,
    set_payload,
    upsert_points,
    upsert_points_conditional,
)
from qdrant_spark.query import universal_query


# --- formula ---------------------------------------------------------------


def test_formula_arithmetic(spark):
    df = spark.createDataFrame(
        [("1", 0.5, 10.0), ("2", 0.9, 2.0), ("3", 0.1, 100.0)],
        "id: string, score: double, price: double",
    )
    formula = {
        "sum": [
            {"mult": [0.7, "$score"]},
            {"mult": [0.3, {"div": {"left": 1.0, "right": "price",
                                    "by_zero_default": 0.0}}]},
        ]
    }
    rows = rescore_formula(df, formula).collect()
    exp = {
        "1": 0.7 * 0.5 + 0.3 * (1 / 10.0),
        "2": 0.7 * 0.9 + 0.3 * (1 / 2.0),
        "3": 0.7 * 0.1 + 0.3 * (1 / 100.0),
    }
    got = {r["id"]: r["score"] for r in rows}
    for k in exp:
        assert got[k] == pytest.approx(exp[k], rel=1e-12)
    assert [r["id"] for r in rows] == sorted(exp, key=lambda k: -exp[k])


def test_formula_decay_and_condition(spark):
    df = spark.createDataFrame(
        [("1", 1.0, 5.0, "red"), ("2", 1.0, 8.0, "blue")],
        "id: string, score: double, x: double, color: string",
    )
    formula = {
        "sum": [
            {"gauss_decay": {"x": "x", "target": 5.0, "scale": 3.0}},
            {"key": "color", "match": {"value": "red"}},
        ]
    }
    got = {r["id"]: r["score"] for r in rescore_formula(df, formula).collect()}
    lam = math.log(0.5) / 9.0
    assert got["1"] == pytest.approx(1.0 + 1.0, rel=1e-12)  # decay(0)=1, cond=1
    assert got["2"] == pytest.approx(math.exp(lam * 9.0), rel=1e-12)


def test_formula_defaults(spark):
    df = spark.createDataFrame(
        [("1", 1.0, 2.0), ("2", 1.0, None)], "id: string, score: double, w: double"
    )
    got = {
        r["id"]: r["score"]
        for r in rescore_formula(df, {"mult": ["$score", "w"]},
                                 defaults={"w": 7.0}).collect()
    }
    assert got == {"1": 2.0, "2": 7.0}


# --- MMR -------------------------------------------------------------------


def test_mmr_greedy_matches_pure_python(embeddings):
    import pandas as pd

    cand = embeddings.filter(F.col("vec_id") < 30).select(
        F.col("vec_id"),
        F.col("embedding"),
        (F.col("vec_id") * -1.0).cast("double").alias("score"),
    )
    out = mmr(cand, lambda_=0.5, k=5, metric="cosine",
              id_col="vec_id", vec_col="embedding").collect()
    pdf = cand.toPandas()
    exp = mmr_rerank_pd(pdf, lambda_=0.5, k=5, metric="cosine",
                        id_col="vec_id", vec_col="embedding")
    assert [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])] == list(exp["vec_id"])
    # first pick is pure relevance argmax
    assert sorted(out, key=lambda r: r["rank"])[0]["vec_id"] == 0


def test_mmr_diversity_extreme(spark):
    # two near-identical high-rel vectors + one orthogonal: with high
    # diversity weight the orthogonal one must be picked second
    rows = [
        (1, [1.0, 0.0], 1.0),
        (2, [0.999, 0.001], 0.99),
        (3, [0.0, 1.0], 0.5),
    ]
    df = spark.createDataFrame(rows, "id: long, vec: array<float>, score: double")
    out = sorted(
        mmr(df, lambda_=0.1, k=2, metric="cosine").collect(), key=lambda r: r["rank"]
    )
    assert [r["id"] for r in out] == [1, 3]


def test_mmr_euclid_distance_scores_prefer_nearest():
    # scores are user-facing euclid distances (smaller = better); the first
    # pick must be the NEAREST point, not the farthest (regression: relevance
    # entered the internal larger-is-better mix un-negated)
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "id": [1, 2, 3],
            "vec": [[0.0, 0.0], [5.0, 0.0], [0.0, 5.0]],
            "score": [0.1, 4.0, 5.0],  # distances to the query
        }
    )
    out = mmr_rerank_pd(pdf, lambda_=1.0, k=1, metric="euclid",
                        id_col="id", vec_col="vec")
    assert list(out["id"]) == [1]


# --- mutations -------------------------------------------------------------


@pytest.fixture()
def table(spark):
    return spark.createDataFrame(
        [("1", 1, "a", 1.0), ("2", 1, "b", 2.0), ("3", 2, "a", 3.0)],
        "id: string, version: long, tag: string, val: double",
    )


def test_upsert_replace_and_insert(spark, table):
    ups = spark.createDataFrame(
        [("2", 5, "B", 20.0), ("4", 1, "d", 4.0)],
        "id: string, version: long, tag: string, val: double",
    )
    out = {r["id"]: (r["tag"], r["val"]) for r in upsert_points(table, ups).collect()}
    assert out == {"1": ("a", 1.0), "2": ("B", 20.0), "3": ("a", 3.0), "4": ("d", 4.0)}


def test_upsert_stale_version_skipped(spark, table):
    ups = spark.createDataFrame(
        [("3", 1, "STALE", 0.0), ("3", 9, "fresh", 9.0)],
        "id: string, version: long, tag: string, val: double",
    )
    out = {r["id"]: r["tag"] for r in
           upsert_points(table, ups, version_col="version").collect()}
    assert out["3"] == "fresh"  # version 9 wins over stored 2 and stale 1


def test_upsert_conditional(spark, table):
    ups = spark.createDataFrame(
        [("1", 2, "X", 0.0), ("3", 3, "Y", 0.0), ("9", 1, "new", 0.0)],
        "id: string, version: long, tag: string, val: double",
    )
    # only rows currently tagged 'a' may be replaced; new ids insert
    out = {r["id"]: r["tag"] for r in upsert_points_conditional(
        table, ups, {"must": [{"key": "tag", "match": {"value": "a"}}]}
    ).collect()}
    assert out == {"1": "X", "2": "b", "3": "Y", "9": "new"}


def test_sync_points_range_replace(spark):
    from qdrant_spark.operators.mutate import sync_points

    table = spark.createDataFrame(
        [(i, f"t{i}") for i in range(10)], "id: long, tag: string"
    )
    batch = spark.createDataFrame(
        [(3, "NEW3"), (5, "NEW5"), (4, "ins4")], "id: long, tag: string"
    )
    # sync [3, 7): ids 3,4,5 come from the batch, 6 (absent) is deleted,
    # everything outside the range is untouched
    out = {r["id"]: r["tag"] for r in
           sync_points(table, batch, from_id=3, to_id=7).collect()}
    assert out == {0: "t0", 1: "t1", 2: "t2", 3: "NEW3", 4: "ins4",
                   5: "NEW5", 7: "t7", 8: "t8", 9: "t9"}


def test_sync_points_open_ended(spark):
    from qdrant_spark.operators.mutate import sync_points

    table = spark.createDataFrame(
        [(i, f"t{i}") for i in range(5)], "id: long, tag: string"
    )
    batch = spark.createDataFrame([(4, "last")], "id: long, tag: string")
    # no to_id: everything >= 3 is replaced by the batch
    out = {r["id"]: r["tag"] for r in
           sync_points(table, batch, from_id=3).collect()}
    assert out == {0: "t0", 1: "t1", 2: "t2", 4: "last"}


def test_delete_and_payload_ops(spark, table):
    out = delete_points(table, flt={"must": [{"key": "tag", "match": {"value": "a"}}]})
    assert {r["id"] for r in out.collect()} == {"2"}

    out2 = set_payload(table, {"tag": "z"}, ids=["1", "3"])
    got = {r["id"]: r["tag"] for r in out2.collect()}
    assert got == {"1": "z", "2": "b", "3": "z"}


def test_delete_vectors(spark):
    df = spark.createDataFrame(
        [("1", [1.0, 2.0]), ("2", [3.0, 4.0])], "id: string, vec: array<float>"
    )
    out = {r["id"]: r["vec"] for r in delete_vectors(df, ["vec"], ids=["1"]).collect()}
    assert out["1"] is None and out["2"] == [3.0, 4.0]


# --- IVF ANN ---------------------------------------------------------------


def test_ivf_recall(embeddings):
    from qdrant_spark.operators.ann import build_ivf, recall_at_k

    idx = build_ivf(embeddings, n_clusters=8, vec_col="embedding", id_col="vec_id")
    rows = embeddings.filter(F.col("vec_id") < 5).collect()
    queries = [list(r["embedding"]) for r in rows]
    r = recall_at_k(idx, embeddings, queries, k=10, nprobe=4, metric="cosine")
    assert r >= 0.6  # random gaussian corpus, half the clusters probed
    r_all = recall_at_k(idx, embeddings, queries, k=10, nprobe=8, metric="cosine")
    assert r_all == 1.0  # probing every cluster == exact


def test_ivf_batch(embeddings, spark):
    from qdrant_spark.operators.ann import build_ivf, ivf_search_batch
    from qdrant_spark.operators.knn import knn_batch

    idx = build_ivf(embeddings, n_clusters=8, vec_col="embedding", id_col="vec_id")
    qvecs = [list(r["embedding"]) for r in embeddings.limit(6).collect()]
    qdf = spark.createDataFrame(
        [(i, q) for i, q in enumerate(qvecs)], "qid: long, qvec: array<float>"
    )
    exact = {
        (r["qid"], r["vec_id"])
        for r in knn_batch(embeddings, qdf, metric="cosine", k=10,
                           vec_col="embedding", id_col="vec_id").collect()
    }
    full = {
        (r["qid"], r["vec_id"])
        for r in ivf_search_batch(idx, qdf, k=10, nprobe=8, metric="cosine").collect()
    }
    assert full == exact  # probing every cluster == exact batch scan
    part = {
        (r["qid"], r["vec_id"])
        for r in ivf_search_batch(idx, qdf, k=10, nprobe=2, metric="cosine").collect()
    }
    assert len(part & exact) / len(exact) >= 0.5


# --- universal query planner ----------------------------------------------


def test_universal_hybrid_fusion(embeddings):
    r0 = embeddings.filter("vec_id = 0").collect()[0]
    q, lbl = r0["embedding"], r0["label"]
    req = {
        "prefetch": [
            {"query": {"nearest": list(q)}, "limit": 20},
            {"query": {"nearest": list(q)}, "limit": 20, "filter":
                {"must": [{"key": "label", "match": {"value": lbl}}]}},
        ],
        "query": {"fusion": "rrf"},
        "limit": 5,
    }
    out = universal_query(embeddings, req, id_col="vec_id", vec_col="embedding").collect()
    assert len(out) == 5
    assert out[0]["vec_id"] == 0  # rank 0 in both prefetch lists


def test_universal_rescore_nearest(embeddings):
    rows = embeddings.filter(F.col("vec_id").isin([0, 7])).collect()
    v = {r["vec_id"]: list(r["embedding"]) for r in rows}
    req = {
        "prefetch": [{"query": {"nearest": v[0]}, "limit": 50}],
        "query": {"nearest": v[7]},
        "limit": 10,
    }
    out = universal_query(embeddings, req, id_col="vec_id", vec_col="embedding").collect()
    assert len(out) == 10
    # candidates came from v0's top-50, but ranking is by similarity to v7
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_universal_formula_rescore(embeddings):
    q = embeddings.filter("vec_id = 0").collect()[0]["embedding"]
    req = {
        "prefetch": [{"query": {"nearest": list(q)}, "limit": 20}],
        "query": {"formula": {"sum": ["$score", {"mult": [0.01, "label"]}]}},
        "limit": 5,
    }
    out = universal_query(embeddings, req, id_col="vec_id", vec_col="embedding").collect()
    assert len(out) == 5 and out[0]["score"] is not None


def test_universal_mmr(embeddings):
    q = embeddings.filter("vec_id = 0").collect()[0]["embedding"]
    req = {
        "prefetch": [{"query": {"nearest": list(q)}, "limit": 30}],
        "query": {"mmr": {"diversity": 0.5}},
        "limit": 5,
        "using": "embedding",
    }
    out = universal_query(embeddings, req, id_col="vec_id", vec_col="embedding").collect()
    assert len(out) == 5


def test_query_batch_heterogeneous(embeddings):
    """Batch of unlike requests: plain nearest, filtered nearest, and an
    RRF-fusion tree — one unioned result tagged by request_idx, each slice
    equal to planning the request alone."""
    from qdrant_spark.query import query_batch

    r0 = embeddings.filter("vec_id = 0").collect()[0]
    q = list(r0["embedding"])
    reqs = [
        {"query": {"nearest": q}, "limit": 5},
        {"query": {"nearest": q}, "limit": 5,
         "filter": {"must": [{"key": "label", "range": {"lt": 5}}]}},
        {"prefetch": [{"query": {"nearest": q}, "limit": 20}],
         "query": {"fusion": "rrf"}, "limit": 5},
    ]
    out = query_batch(embeddings, reqs, id_col="vec_id", vec_col="embedding")
    rows = out.collect()
    assert {r["request_idx"] for r in rows} == {0, 1, 2}
    by_req = {}
    for r in rows:
        by_req.setdefault(r["request_idx"], []).append((r["vec_id"], r["score"]))
    for i, req in enumerate(reqs):
        solo = [(r["vec_id"], r["score"]) for r in universal_query(
            embeddings, req, id_col="vec_id", vec_col="embedding").collect()]
        assert sorted(by_req[i]) == sorted(solo), f"request {i}"
    assert len(by_req[0]) == 5 and by_req[0][0][0] == 0


def test_plan_groups_with_lookup_and_direction(spark, embeddings):
    """plan_groups == knn + group_by composition; lookup attaches the
    dimension columns; smaller-is-better metrics group on ascending score."""
    from pyspark.sql import functions as F

    from qdrant_spark.operators.groupby import group_by
    from qdrant_spark.operators.knn import knn
    from qdrant_spark.query import QueryPlanner

    q = [float(x) for x in embeddings.limit(1).collect()[0]["embedding"]]
    planner = QueryPlanner(embeddings, id_col="vec_id",
                           default_vec_col="embedding", metric="cosine")
    got = planner.plan_groups(
        {"query": {"nearest": q}, "using": "embedding"},
        group_by_field="label", groups=3, group_size=2, oversample=4,
    ).select("group_value", "vec_id", "rank_in_group", "group_rank").collect()

    scored = knn(embeddings, q, metric="cosine", k=3 * 2 * 4,
                 vec_col="embedding", id_col="vec_id",
                 select=["vec_id", "label", "score"])
    want = group_by(scored, "label", groups=3, group_size=2,
                    id_col="vec_id").select(
        "group_value", "vec_id", "rank_in_group", "group_rank").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    lk = embeddings.groupBy("label").agg(F.count("*").alias("n"))
    with_lk = planner.plan_groups(
        {"query": {"nearest": q}, "using": "embedding"},
        group_by_field="label", groups=3, group_size=2,
        lookup=lk.withColumnRenamed("label", "id"),
    )
    assert "lookup_n" in with_lk.columns

    # euclid planner: groups must rank by ascending distance
    pe = QueryPlanner(embeddings, id_col="vec_id",
                      default_vec_col="embedding", metric="euclid")
    ge = pe.plan_groups({"query": {"nearest": q}, "using": "embedding"},
                        group_by_field="label", groups=2, group_size=2)
    rows = ge.orderBy("group_rank", "rank_in_group").collect()
    by_grp: dict = {}
    for r in rows:
        by_grp.setdefault(r["group_value"], []).append(r["score"])
    assert all(vs == sorted(vs) for vs in by_grp.values())


# --- shared-scan prefetch fusion -------------------------------------------


def test_prefetch_shared_scan_fusion(embeddings):
    """Sibling dense-nearest prefetch legs sharing (source, filter, vector
    column) fuse into ONE batched leaf scan (the PlannedQuery analogue,
    lib/shard/src/query/planned_query.rs:17-60) and the fused result is
    value-identical to planning each leg separately."""
    from qdrant_spark.operators.fusion import rrf
    from qdrant_spark.operators.knn import knn
    from qdrant_spark.query import QueryPlanner

    rows = embeddings.filter(F.col("vec_id").isin([0, 3])).collect()
    v = {r["vec_id"]: list(r["embedding"]) for r in rows}
    req = {
        "prefetch": [
            {"query": {"nearest": v[0]}, "limit": 20},
            {"query": {"nearest": v[3]}, "limit": 15, "offset": 2},
        ],
        "query": {"fusion": "rrf"},
        "limit": 8,
    }
    p = QueryPlanner(embeddings, id_col="vec_id", default_vec_col="embedding",
                     fuse_min_bytes=0)
    fused = p.plan(req).collect()
    assert p.last_plan_info == {"fused_groups": 1, "fused_legs": 2,
                                "driver_fused_root": 1}

    # default size dispatch: a tiny corpus plans lazily (no fusion)
    p_dflt = QueryPlanner(embeddings, id_col="vec_id",
                          default_vec_col="embedding")
    lazy = p_dflt.plan(req).collect()
    assert p_dflt.last_plan_info["fused_legs"] == 0
    assert [(r["vec_id"], round(r["score"], 9)) for r in lazy] == \
        [(r["vec_id"], round(r["score"], 9)) for r in fused]

    legs = [
        knn(embeddings, v[0], metric="cosine", k=20, vec_col="embedding",
            id_col="vec_id", select=["vec_id", "score"]),
        knn(embeddings, v[3], metric="cosine", k=15, offset=2,
            vec_col="embedding", id_col="vec_id", select=["vec_id", "score"]),
    ]
    want = rrf(legs, id_col="vec_id", limit=8).collect()
    assert [(r["vec_id"], round(r["score"], 9)) for r in fused] == \
        [(r["vec_id"], round(r["score"], 9)) for r in want]

    # different per-leg filters -> different scans, no fusion
    req2 = {
        "prefetch": [
            {"query": {"nearest": v[0]}, "limit": 10},
            {"query": {"nearest": v[3]}, "limit": 10,
             "filter": {"must": [{"key": "label", "range": {"lt": 5}}]}},
        ],
        "query": {"fusion": "rrf"},
        "limit": 5,
    }
    p.plan(req2)
    assert p.last_plan_info["fused_legs"] == 0


def test_prefetch_fusion_with_threshold(embeddings):
    """Per-leg score_threshold survives fusion (applied post-top-k, which
    is exact because every non-top row scores strictly worse)."""
    from qdrant_spark.operators.knn import knn
    from qdrant_spark.query import QueryPlanner

    rows = embeddings.filter(F.col("vec_id").isin([0, 3])).collect()
    v = {r["vec_id"]: list(r["embedding"]) for r in rows}
    solo = knn(embeddings, v[0], metric="cosine", k=20, vec_col="embedding",
               id_col="vec_id", select=["vec_id", "score"]).collect()
    th = float(solo[9]["score"])  # keeps scores strictly above row 10's
    req = {
        "prefetch": [
            {"query": {"nearest": v[0]}, "limit": 20, "score_threshold": th},
            {"query": {"nearest": v[3]}, "limit": 20},
        ],
        "query": {"fusion": "dbsf"},
        "limit": 10,
    }
    p = QueryPlanner(embeddings, id_col="vec_id", default_vec_col="embedding",
                     fuse_min_bytes=0)
    p.plan(req).collect()
    assert p.last_plan_info == {"fused_groups": 1, "fused_legs": 2,
                                "driver_fused_root": 1}
    # re-plan leg 0 alone through the planner and check the threshold held
    leg0 = p.plan({"query": {"nearest": v[0]}, "limit": 20,
                   "score_threshold": th}).collect()
    want = [(r["vec_id"], round(r["score"], 9)) for r in solo
            if r["score"] > th]
    assert [(r["vec_id"], round(r["score"], 9)) for r in leg0] == want


def test_driver_side_fusion_matches_spark_path(embeddings):
    """A fusion root over fused legs reads their local hits (no collect,
    ``driver_fused_root`` 1) and fuses value-identically to the same root
    over lazy legs, for a smaller-is-better metric too."""
    from qdrant_spark.operators.fusion import dbsf, rrf
    from qdrant_spark.query import QueryPlanner

    rows = embeddings.filter(F.col("vec_id").isin([1, 4, 7])).collect()
    v = {r["vec_id"]: list(r["embedding"]) for r in rows}
    for fusion in ("rrf", "dbsf"):
        req = {
            "prefetch": [
                {"query": {"nearest": v[1]}, "limit": 25},
                {"query": {"nearest": v[4]}, "limit": 12},
                {"query": {"nearest": v[7]}, "limit": 18, "offset": 1},
            ],
            "query": {"fusion": fusion},
            "limit": 10,
        }
        p = QueryPlanner(embeddings, id_col="vec_id",
                         default_vec_col="embedding", fuse_min_bytes=0)
        fast = p.plan(req).collect()
        assert p.last_plan_info["driver_fused_root"] == 1
        lazy_p = QueryPlanner(embeddings, id_col="vec_id",
                              default_vec_col="embedding")
        lazy = lazy_p.plan(req).collect()
        assert lazy_p.last_plan_info["driver_fused_root"] == 0
        assert [(r["vec_id"], round(r["score"], 9)) for r in fast] == \
            [(r["vec_id"], round(r["score"], 9)) for r in lazy], fusion

    # the fused legs run the block-matmul kernel (q_data handoff — no
    # query DataFrame round trip): re-check value parity with the lazy plan
    req_m = {
        "prefetch": [
            {"query": {"nearest": v[1]}, "limit": 20},
            {"query": {"nearest": v[4]}, "limit": 20},
        ],
        "query": {"fusion": "rrf"},
        "limit": 10,
    }
    pm = QueryPlanner(embeddings, id_col="vec_id",
                      default_vec_col="embedding", fuse_min_bytes=0)
    fast_m = pm.plan(req_m).collect()
    assert pm.last_plan_info["fused_legs"] == 2
    lazy_m = QueryPlanner(embeddings, id_col="vec_id",
                          default_vec_col="embedding").plan(req_m).collect()
    assert [(r["vec_id"], round(r["score"], 9)) for r in fast_m] == \
        [(r["vec_id"], round(r["score"], 9)) for r in lazy_m]

    # euclid (smaller-is-better): fused legs share the scan and the root
    # reads them without a collect, ranking each leg nearest first
    req_e = {
        "prefetch": [
            {"query": {"nearest": v[1]}, "limit": 15},
            {"query": {"nearest": v[4]}, "limit": 15},
        ],
        "query": {"fusion": "rrf"},
        "limit": 8,
    }
    pe = QueryPlanner(embeddings, id_col="vec_id",
                      default_vec_col="embedding", metric="euclid",
                      fuse_min_bytes=0)
    out_e = pe.plan(req_e).collect()
    assert pe.last_plan_info["fused_legs"] == 2
    assert pe.last_plan_info["driver_fused_root"] == 1
    lazy_e = QueryPlanner(embeddings, id_col="vec_id",
                          default_vec_col="embedding",
                          metric="euclid").plan(req_e).collect()
    assert [(r["vec_id"], round(r["score"], 9)) for r in out_e] == \
        [(r["vec_id"], round(r["score"], 9)) for r in lazy_e]


def test_planner_params_exact_opt_out(embeddings):
    """params.exact forces the plain scan even when an ANN index is
    registered (SearchParams::exact) — proven with a corrupt index whose
    assignments point at a nonexistent cluster: the index route returns
    nothing, the exact route returns the true top-k. Fusion also only
    applies to exact legs, so the two-leg exact hybrid fuses while the
    default (index-routed) hybrid does not."""
    from qdrant_spark.operators.ann import IvfIndex, build_ivf
    from qdrant_spark.query import QueryPlanner

    idx = build_ivf(embeddings, n_clusters=4, vec_col="embedding",
                    id_col="vec_id", seed=2)
    bad = IvfIndex(
        assigned=idx.assigned.withColumn("__cluster", F.lit(999)),
        centroids=idx.centroids, vec_col="embedding", id_col="vec_id",
    )
    q0 = [float(x) for x in embeddings.limit(1).collect()[0]["embedding"]]
    exact_p = QueryPlanner(embeddings, id_col="vec_id",
                           default_vec_col="embedding")
    accel = QueryPlanner(embeddings, id_col="vec_id",
                         default_vec_col="embedding",
                         indexes={"embedding": [bad]},
                         full_scan_threshold=1, fuse_min_bytes=0)
    req = {"query": {"nearest": q0}, "using": "embedding", "limit": 5}
    assert accel.plan(req).count() == 0  # corrupt index, index route
    got = [(r["vec_id"], round(r["score"], 6)) for r in
           accel.plan(dict(req, params={"exact": True})).collect()]
    want = [(r["vec_id"], round(r["score"], 6)) for r in
            exact_p.plan(req).collect()]
    assert got == want and len(got) == 5

    hybrid = {
        "prefetch": [
            {"query": {"nearest": q0}, "limit": 10},
            {"query": {"nearest": q0}, "limit": 20},
        ],
        "query": {"fusion": "rrf"}, "limit": 5,
    }
    accel.plan(hybrid)
    assert accel.last_plan_info["fused_legs"] == 0
    exact_hybrid = {
        "prefetch": [
            {"query": {"nearest": q0}, "limit": 10, "params": {"exact": True}},
            {"query": {"nearest": q0}, "limit": 20, "params": {"exact": True}},
        ],
        "query": {"fusion": "rrf"}, "limit": 5,
    }
    accel.plan(exact_hybrid)
    assert accel.last_plan_info["fused_legs"] == 2


def test_query_batch_fuses_homogeneous_nearest(embeddings):
    """Homogeneous dense-nearest batch requests sharing (filter, vector
    column) auto-batch into one knn_batch scan; results stay identical to
    planning each request alone (per-request limit/offset/threshold)."""
    from qdrant_spark.query import query_batch, universal_query

    rows = embeddings.filter(F.col("vec_id").isin([0, 3, 5])).collect()
    v = {r["vec_id"]: list(r["embedding"]) for r in rows}
    flt = {"must": [{"key": "label", "range": {"lt": 8}}]}
    reqs = [
        {"query": {"nearest": v[0]}, "limit": 7},
        {"query": {"nearest": v[3]}, "limit": 4, "offset": 2},
        {"query": {"nearest": v[5]}, "limit": 5, "filter": flt},
        {"query": {"nearest": v[0]}, "limit": 5, "filter": flt},
        # id-reference target resolves through the shared batch resolve
        {"query": {"nearest": {"id": 3}}, "limit": 3},
    ]
    rows_out = query_batch(embeddings, reqs, id_col="vec_id",
                           vec_col="embedding", fuse_min_bytes=0).collect()
    by_req: dict = {}
    for r in rows_out:
        by_req.setdefault(r["request_idx"], []).append(
            (r["vec_id"], round(r["score"], 9)))
    for i, req in enumerate(reqs):
        solo = [(r["vec_id"], round(r["score"], 9)) for r in universal_query(
            embeddings, req, id_col="vec_id", vec_col="embedding").collect()]
        assert sorted(by_req[i]) == sorted(solo), f"request {i}"
    assert len(by_req[0]) == 7 and len(by_req[1]) == 4 and len(by_req[4]) == 3


def test_fused_collect_guard_declines_to_per_leg_plans(embeddings,
                                                      monkeypatch):
    """Above FUSED_COLLECT_MAX a fused dense group declines: its legs plan
    one request at a time, nothing is persisted, and the values equal
    the fused path, for a prefetch fusion root and a query_batch group."""
    import qdrant_spark.query as Q

    rows = embeddings.filter(F.col("vec_id").isin([0, 3, 5, 7])).collect()
    v = {r["vec_id"]: list(r["embedding"]) for r in rows}
    legs = [
        {"query": {"nearest": v[0]}, "limit": 20},
        {"query": {"nearest": v[3]}, "limit": 15, "offset": 2},
        {"query": {"nearest": v[5]}, "limit": 20, "score_threshold": 0.1},
        {"query": {"nearest": v[7]}, "limit": 20},
    ]
    req = {"prefetch": legs, "query": {"fusion": "rrf"}, "limit": 8}
    kw = dict(id_col="vec_id", vec_col="embedding", fuse_min_bytes=0)

    def hits(rs):
        return [(r["vec_id"], round(r["score"], 9)) for r in rs]

    def batch_hits(rs):
        return sorted((r["request_idx"], r["vec_id"], round(r["score"], 9))
                      for r in rs)

    # reference: the fused paths within the budget
    p_ref = Q.QueryPlanner(embeddings, id_col="vec_id",
                           default_vec_col="embedding", fuse_min_bytes=0)
    want = hits(p_ref.plan(req).collect())
    assert p_ref.last_plan_info["fused_legs"] == 4
    assert p_ref.last_plan_info["driver_fused_root"] == 1
    want_batch = batch_hits(Q.query_batch(embeddings, legs, **kw).collect())

    # a ceiling of 10 makes the group over budget (4 legs * 22 > 10)
    monkeypatch.setattr(Q, "FUSED_COLLECT_MAX", 10)
    declined = []
    fused_leaves = Q.QueryPlanner._fused_leaves

    def spy(self, *a, **k):
        out = fused_leaves(self, *a, **k)
        declined.append(out is None)
        return out

    monkeypatch.setattr(Q.QueryPlanner, "_fused_leaves", spy)
    sc = embeddings.sparkSession.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    p = Q.QueryPlanner(embeddings, id_col="vec_id",
                       default_vec_col="embedding", fuse_min_bytes=0)
    got = hits(p.plan(req).collect())
    assert p.last_plan_info["fused_legs"] == 0
    assert p.last_plan_info["driver_fused_root"] == 0
    assert got == want
    got_batch = batch_hits(Q.query_batch(embeddings, legs, **kw).collect())
    assert got_batch == want_batch
    assert declined == [True, True]
    assert sc._jsc.getPersistentRDDs().size() == before


def test_one_shot_universal_query_leaves_no_persisted_scan(embeddings,
                                                          monkeypatch):
    """The one-shot entry runs its prefetch legs fused (one scan, merged
    on the driver) and leaves nothing persisted for the application
    lifetime."""
    import qdrant_spark.query as Q

    rows = embeddings.filter(F.col("vec_id").isin([0, 3, 5, 7])).collect()
    v = {r["vec_id"]: list(r["embedding"]) for r in rows}
    req = {
        "prefetch": [
            {"query": {"nearest": v[0]}, "limit": 20},
            {"query": {"nearest": v[3]}, "limit": 20},
            {"query": {"nearest": v[5]}, "limit": 20},
        ],
        "query": {"fusion": "rrf"},
        "limit": 8,
    }
    # universal_query takes no fuse_min_bytes: lower the module default
    monkeypatch.setattr(Q, "FUSE_MIN_BYTES", 0)
    planners = []
    plan = Q.QueryPlanner.plan

    def spy(self, request):
        planners.append(self)
        return plan(self, request)

    monkeypatch.setattr(Q.QueryPlanner, "plan", spy)
    sc = embeddings.sparkSession.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    out = Q.universal_query(embeddings, req, id_col="vec_id",
                            vec_col="embedding")
    assert out.count() == 8
    (p,) = planners
    assert p.last_plan_info["fused_legs"] == 3
    assert sc._jsc.getPersistentRDDs().size() == before


def test_delta_upsert_building_blocks(spark, table):
    """The Delta MERGE twin's pure pieces (r5 VERDICT item 9): batch
    collapse matches upsert_points' resolution, and the merge condition
    carries the versioned stale-skip as a WHEN MATCHED gate. The MERGE
    execution itself is env-gated below."""
    from qdrant_spark.operators.mutate import (
        prepare_upsert_batch, upsert_merge_condition,
    )

    ups = spark.createDataFrame(
        [("3", 1, "STALE", 0.0), ("3", 9, "fresh", 9.0), ("4", 2, "d", 4.0)],
        "id: string, version: long, tag: string, val: double",
    )
    got = {r["id"]: r["tag"] for r in prepare_upsert_batch(
        ups, id_col="id", version_col="version").collect()}
    assert got == {"3": "fresh", "4": "d"}  # one row per id, max version

    assert upsert_merge_condition("id") == ("t.id = s.id", None)
    cond, gate = upsert_merge_condition("id", "version")
    assert cond == "t.id = s.id"
    assert gate == "s.version > t.version"  # strict: ties keep existing


def test_delta_upsert_merge_env_gated(spark, table, tmp_path):
    """With delta-spark present, the MERGE path must reproduce
    upsert_points exactly; skipped where delta isn't installed."""
    pytest.importorskip("delta")
    from delta.tables import DeltaTable

    from qdrant_spark.operators.mutate import (
        upsert_points, upsert_points_delta,
    )

    path = str(tmp_path / "t")
    table.write.format("delta").save(path)
    ups = spark.createDataFrame(
        [("2", 5, "B", 20.0), ("3", 1, "STALE", 0.0), ("4", 1, "d", 4.0)],
        "id: string, version: long, tag: string, val: double",
    )
    dt = DeltaTable.forPath(spark, path)
    upsert_points_delta(dt, ups, id_col="id", version_col="version")
    got = {r["id"]: (r["version"], r["tag"])
           for r in spark.read.format("delta").load(path).collect()}
    want = {r["id"]: (r["version"], r["tag"])
            for r in upsert_points(table, ups, id_col="id",
                                   version_col="version").collect()}
    assert got == want


def test_driver_lazy_fusion_parity(embeddings):
    """Every fusion root finishes on the driver, each leg ranked best
    first in its own score direction. Values equal the Spark rrf() /
    dbsf() with ``orders`` over per-leg knn / sparse_knn plans, for
    cosine, euclid (nearest first) and a euclid dense + sparse dot pair,
    over fused legs (``fuse_min_bytes=0``) and lazy legs alike."""
    from qdrant_spark.operators.fusion import dbsf, rrf
    from qdrant_spark.operators.knn import knn
    from qdrant_spark.operators.sparse import sparse_knn
    from qdrant_spark.query import QueryPlanner

    pts = embeddings.withColumn("sp", F.struct(
        F.array(*(F.lit(d) for d in range(4))).alias("indices"),
        F.slice("embedding", 1, 4).alias("values")))
    rows = embeddings.orderBy("vec_id").limit(8).collect()
    v = {r["vec_id"]: list(r["embedding"]) for r in rows}
    sp = {"indices": [0, 2, 3], "values": [0.7, -0.2, 0.4]}
    dense = [{"query": {"nearest": v[1]}, "limit": 25},
             {"query": {"nearest": v[4]}, "limit": 12},
             {"query": {"nearest": v[7]}, "limit": 18, "offset": 1}]
    cases = {"cosine": (dense, {}), "euclid": (dense, {}),
             "mixed": (dense[:2] + [{"query": {"nearest": sp},
                                     "using": "sp", "limit": 15}],
                       {"embedding": "euclid"})}

    def leg_plan(leg, metric):
        """A leg's reference plan and its score direction."""
        if leg.get("using") == "sp":
            return sparse_knn(pts, sp["indices"], sp["values"],
                              k=leg["limit"], id_col="vec_id",
                              indices_col="sp.indices",
                              values_col="sp.values"), True
        got = knn(pts, leg["query"]["nearest"], metric=metric,
                  k=leg["limit"], offset=leg.get("offset", 0),
                  vec_col="embedding", id_col="vec_id",
                  select=["vec_id", "score"])
        return got, metric == "cosine"

    for name, (legs, metrics) in cases.items():
        metric = "cosine" if name == "mixed" else name
        plans = [leg_plan(leg, metrics.get("embedding", metric))
                 for leg in legs]
        orders = [lb for _, lb in plans]
        for fusion, fn in (("rrf", rrf), ("dbsf", dbsf)):
            want = [(r["vec_id"], round(r["score"], 9)) for r in fn(
                [df for df, _ in plans], orders=orders, id_col="vec_id",
                limit=10).collect()]
            req = {"prefetch": legs, "query": {"fusion": fusion},
                   "limit": 10}
            for fmb, fused in ((None, 0), (0, 2 if name == "mixed" else 3)):
                p = QueryPlanner(pts, id_col="vec_id",
                                 default_vec_col="embedding", metric=metric,
                                 metrics=metrics, fuse_min_bytes=fmb)
                got = [(r["vec_id"], round(r["score"], 9))
                       for r in p.plan(req).collect()]
                assert p.last_plan_info["fused_legs"] == fused
                assert p.last_plan_info["driver_fused_root"] == int(
                    fused == len(legs))
                assert got == want, (name, fusion, fmb)

