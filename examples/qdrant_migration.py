"""Side-by-side migration guide: each qdrant REST/gRPC call -> the
qdrant_spark equivalent, run end-to-end on the test tables.

The left column of each section comment is the reference API
(https-style paths from src/actix/api/); the code underneath is the
drop-in Spark-first equivalent. Run:

    PYTHONPATH=/root/repo python examples/qdrant_migration.py [sf_dir]
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F


def run(sf_dir: str = "/root/testdata/sf0.001", cpus: int = 8) -> dict:
    from qdrant_spark import get_spark
    from qdrant_spark.catalog import (
        CollectionCatalog, StrictModeConfig, check_strict_mode,
    )
    from qdrant_spark.operators.ann import build_ivf
    from qdrant_spark.operators.dispatch import auto_search
    from qdrant_spark.operators.fusion import rrf
    from qdrant_spark.operators.groupby import group_by
    from qdrant_spark.operators.knn import knn
    from qdrant_spark.operators.mutate import upsert_points
    from qdrant_spark.operators.points import count, facet, retrieve, scroll
    from qdrant_spark.operators.recommend import recommend_avg_vector
    from qdrant_spark.query import QueryPlanner

    spark = get_spark(app_name="qdrant-migration", cpus=cpus)
    out: dict = {}

    # PUT /collections/{c}  +  PUT /collections/{c}/index
    # -> register the DataFrame and its field indexes in the catalog
    points = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumnRenamed("vec_id", "id")
    )
    cat = CollectionCatalog()
    cat.register("vectors", points)
    cat.create_field_index("vectors", "label", "integer")

    # PUT /collections/{c}/points (upsert, versioned)
    new_rows = spark.createDataFrame(
        [(10_000_000, [0.1] * len(points.first()["embedding"]), 3, 1)],
        "id long, embedding array<float>, label long, version long",
    )
    merged = upsert_points(
        points.withColumn("version", F.lit(0)), new_rows, id_col="id")
    out["after_upsert"] = merged.count()

    # POST /points/search (filtered, with threshold)
    q0 = [float(x) for x in points.first()["embedding"]]
    flt = {"must": [{"key": "label", "match": {"any": [1, 2, 3]}}]}
    hits = knn(points, q0, metric="cosine", k=5, vec_col="embedding",
               id_col="id", flt=flt, select=["id", "score"]).collect()
    out["search_top1"] = hits[0]["id"]

    # POST /points/query (universal query: prefetch -> fusion), accelerated
    # by the selectivity dispatcher when an IVF index exists
    idx = build_ivf(points, n_clusters=4, vec_col="embedding", id_col="id")
    planner = QueryPlanner(points, id_col="id", default_vec_col="embedding",
                           metric="cosine", indexes={"embedding": [idx]})
    fused = planner.plan({
        "prefetch": [
            {"query": {"nearest": q0}, "limit": 20},
            {"query": {"nearest": q0}, "limit": 20, "filter": flt},
        ],
        "query": {"fusion": "rrf"},
        "limit": 5,
    }).collect()
    out["universal_top1"] = fused[0]["id"]

    # POST /points/query/groups
    grouped = planner.plan_groups(
        {"query": {"nearest": q0}, "using": "embedding"},
        group_by_field="label", groups=3, group_size=2,
    )
    out["groups"] = grouped.select("group_value").distinct().count()

    # POST /points/recommend
    reco = recommend_avg_vector(
        points, [q0], [], metric="cosine", k=5,
        vec_col="embedding", id_col="id").collect()
    out["recommend_top1"] = reco[0]["id"]

    # Standalone filtered ANN with the reference's strategy dispatch
    ann_hits = auto_search(idx, q0, k=5, flt=flt).collect()
    out["auto_search_rows"] = len(ann_hits)

    # POST /points/scroll  /  GET /points/{id}  /  POST /points/count
    page = scroll(points, limit=3, id_col="id",
                  flt={"must": [{"key": "label", "range": {"lt": 5}}]})
    out["scroll_ids"] = [r["id"] for r in page.collect()]
    got = retrieve(points, [int(out["search_top1"])], id_col="id")
    out["retrieve_cols"] = sorted(got.columns)
    out["count_filtered"] = count(points, flt)

    # POST /collections/{c}/facet
    out["facet"] = {r["value"]: r["count"]
                    for r in facet(points, "label", limit=3).collect()}

    # POST /points/query with params: {exact: true} — per-request ANN
    # opt-out (SearchParams::exact): forces the plain scan even though an
    # IVF index is registered
    exact_hits = planner.plan({
        "query": {"nearest": q0}, "using": "embedding",
        "params": {"exact": True}, "limit": 5,
    }).collect()
    out["exact_top1"] = exact_hits[0]["id"]

    # Stemmed full-text match in any of the 9 Snowball languages
    # (match.text + field text-index params, as in PUT /collections/index
    # with a text schema): German here
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from qdrant_spark.filters import apply_filter

    tp = {"text": {"stemmer": {"type": "snowball", "language": "german"}}}
    out["stemmed_de_hits"] = apply_filter(
        docs, {"must": [{"key": "text", "match": {"text": "values"}}]},
        text_params=tp,
    ).count()

    # PUT /collections/{c} with vectors: {datatype: float16|uint8} — packed
    # storage scored at storage precision (VectorParams.datatype); float32
    # packing is the lossless RAM-resident cache layout (cache the flat
    # binary, not array<float> rows)
    from qdrant_spark.operators.datatypes import knn_packed, pack_vectors

    p16 = pack_vectors(points, vec_col="embedding", id_col="id",
                       dtype="float16")
    out["f16_top1"] = knn_packed(p16, q0, metric="cosine",
                                 k=1).collect()[0]["id"]

    # Strict mode: reject an over-limit request before planning
    cfg = StrictModeConfig(max_query_limit=100,
                           unindexed_filtering_retrieve=False)
    try:
        check_strict_mode({"limit": 10_000}, cfg)
        out["strict_mode"] = "MISSED"
    except Exception:
        out["strict_mode"] = "rejected over-limit request"

    # rrf of two ad-hoc sources (POST /points/query with fusion, by hand)
    a = knn(points, q0, metric="cosine", k=10, vec_col="embedding",
            id_col="id", select=["id", "score"])
    b = knn(points, q0, metric="dot", k=10, vec_col="embedding",
            id_col="id", select=["id", "score"])
    out["rrf_rows"] = rrf([a, b], id_col="id", limit=5).count()

    # grouped search over an ad-hoc scored table (POST /points/search/groups)
    scored = knn(points, q0, metric="cosine", k=30, vec_col="embedding",
                 id_col="id", select=["id", "label", "score"])
    out["search_groups_rows"] = group_by(
        scored, "label", groups=3, group_size=2, id_col="id").count()

    # ------------------------------------------------------------------
    # Zero-rewrite path: qdrant_client call sites run unchanged against
    # QdrantSparkClient (qdrant_spark/client.py) — same method names,
    # same request dicts, same result shapes.
    # ------------------------------------------------------------------
    from qdrant_spark.client import QdrantSparkClient

    client = QdrantSparkClient(spark)
    client.create_collection(
        "mycoll", vectors_config={"size": 4, "distance": "Cosine"})
    client.upsert("mycoll", [
        {"id": 1, "vector": [0.9, 0.1, 0.1, 0.1],
         "payload": {"city": "Berlin", "price": 10.0}},
        {"id": 2, "vector": [0.1, 0.9, 0.1, 0.1],
         "payload": {"city": "London", "price": 12.5}},
        {"id": 3, "vector": [0.1, 0.1, 0.9, 0.1],
         "payload": {"city": "Berlin"}},
    ])
    hits = client.query_points(
        "mycoll", query=[1.0, 0.0, 0.0, 0.0],
        query_filter={"must": [{"key": "city",
                                "match": {"value": "Berlin"}}]},
        limit=2).points
    out["client_query_points"] = [(p.id, round(p.score, 3)) for p in hits]
    out["client_count"] = client.count("mycoll").count
    out["client_facet"] = [(h.value, h.count)
                           for h in client.facet("mycoll", "city").hits]
    recs, _next = client.scroll("mycoll", limit=10)
    out["client_scroll_ids"] = [r.id for r in recs]

    # PUT /collections/{c} with quantization_config — the reference's
    # quantized-HNSW deployment: declare scalar int8 quantization, build
    # ONE composed index (cluster-partitioned codes), and query_points
    # runs probe-clusters -> score-codes -> exact-rescore, per-request
    # tunable via SearchParams.quantization {ignore, rescore,
    # oversampling} (types.rs:573-628)
    dim = len(q0)
    client.create_collection(
        "quantized", vectors_config={"size": dim, "distance": "Cosine"},
        quantization_config={"scalar": {"type": "int8", "quantile": 0.99}})
    client.upsert("quantized", [
        {"id": int(r["id"]), "vector": [float(x) for x in r["embedding"]]}
        for r in points.limit(300).collect()])
    out["quant_ensure"] = client.ensure_vector_index(
        "quantized", n_clusters=8, nprobe=8, indexing_threshold=0)
    qhits = client.query_points(
        "quantized", query=q0, limit=3, with_payload=False,
        search_params={"quantization": {"rescore": True,
                                        "oversampling": 4.0}}).points
    out["quantized_top1"] = qhits[0].id

    # Binary quantization with an ASYMMETRIC query encoding
    # (BinaryQuantizationQueryEncoding, types.rs:1188-1201): storage
    # stays 1 bit/dim, queries keep 8-bit scalar precision
    client.create_collection(
        "bq_asym", vectors_config={"size": dim, "distance": "Cosine"},
        quantization_config={"binary": {"encoding": "one_bit",
                                        "query_encoding": "scalar8bits"}})
    client.upsert("bq_asym", [
        {"id": int(r["id"]), "vector": [float(x) for x in r["embedding"]]}
        for r in points.limit(300).collect()])
    client.ensure_vector_index("bq_asym", indexing_threshold=0)
    out["bq_asym_top1"] = client.query_points(
        "bq_asym", query=q0, limit=3, with_payload=False,
        search_params={"quantization": {"oversampling": 8.0}}
    ).points[0].id

    spark.stop()
    return out


if __name__ == "__main__":
    print(run(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"))
