"""Quantized two-stage search: rescored results must recover the exact
top-k (SQ, small corpus) or hit a recall floor (BQ) — the reference's
ANN-vs-exact gate applied to quantization (types.rs:573-628)."""

from __future__ import annotations

import numpy as np
import pytest

from qdrant_spark.operators.knn import knn
from qdrant_spark.operators.quantize import (
    build_bq, build_pq, build_sq, bq_search, pq_search, sq_search,
)


@pytest.fixture(scope="module")
def sq(embeddings):
    idx = build_sq(embeddings, vec_col="embedding", id_col="vec_id")
    idx.codes.cache().count()
    return idx


@pytest.fixture(scope="module")
def bq(embeddings):
    idx = build_bq(embeddings, vec_col="embedding", id_col="vec_id")
    idx.packed.cache().count()
    return idx


def _exact_ids(embeddings, q, metric, k):
    return [
        r["vec_id"]
        for r in knn(embeddings, q, metric=metric, k=k, vec_col="embedding",
                     id_col="vec_id", select=["vec_id", "score"]).collect()
    ]


@pytest.mark.parametrize("metric", ["cosine", "euclid"])
def test_sq_rescore_matches_exact(embeddings, sq, metric):
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    exact = _exact_ids(embeddings, q, metric, 10)
    got = [r["vec_id"] for r in sq_search(sq, q, k=10, oversampling=3.0,
                                          metric=metric).collect()]
    assert got == exact


def test_sq_coarse_no_rescore_close(embeddings, sq):
    """rescore=False returns coarse scores: same k, high overlap, scores
    within quantization error of exact."""
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    coarse = sq_search(sq, q, k=10, metric="cosine", rescore=False).collect()
    assert len(coarse) == 10
    exact = set(_exact_ids(embeddings, q, "cosine", 10))
    overlap = len(exact & {r["vec_id"] for r in coarse}) / 10
    assert overlap >= 0.8


def test_sq_filtered(embeddings, sq):
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    flt = {"must": [{"key": "label", "range": {"lte": 5}}]}
    got = sq_search(sq, q, k=5, metric="cosine", flt=flt).collect()
    labels = {
        r["label"]
        for r in embeddings.filter(embeddings.vec_id.isin([g["vec_id"] for g in got]))
        .select("label").collect()
    }
    assert labels and all(l <= 5 for l in labels)


def test_sq_codes_are_int8_and_small(sq):
    f = dict(zip(sq.codes.schema.fieldNames(), sq.codes.schema.fields))
    assert f["__sq"].dataType.simpleString() == "array<tinyint>"
    row = sq.codes.select("__sq").first()
    assert all(-128 <= c <= 127 for c in row["__sq"])


def test_bq_recall(embeddings, bq):
    """1-bit codes + hamming coarse stage: recall@10 over a handful of
    queries must clear a floor with oversampling=8."""
    rows = embeddings.limit(5).collect()
    hits = 0
    for r in rows:
        q = list(r["embedding"])
        exact = set(_exact_ids(embeddings, q, "cosine", 10))
        got = {x["vec_id"] for x in bq_search(bq, q, k=10, oversampling=8.0).collect()}
        hits += len(exact & got)
    assert hits / (10 * len(rows)) >= 0.5


def test_bq_packs_words(bq, embeddings):
    dim = len(embeddings.select("embedding").first()["embedding"])
    row = bq.packed.select("__bq").first()
    assert len(row["__bq"]) == (dim + 63) // 64


@pytest.fixture(scope="module")
def pq(embeddings):
    idx = build_pq(embeddings, vec_col="embedding", id_col="vec_id",
                   n_subspaces=8, n_centroids=256)
    idx.codes.cache().count()
    return idx


def test_pq_codes_are_one_byte_per_subspace(pq):
    f = dict(zip(pq.codes.schema.fieldNames(), pq.codes.schema.fields))
    assert f["__pq"].dataType.simpleString() == "array<tinyint>"
    row = pq.codes.select("__pq").first()
    assert len(row["__pq"]) == 8
    assert all(-128 <= c <= 127 for c in row["__pq"])


@pytest.mark.parametrize("metric", ["cosine", "euclid", "dot", "manhattan"])
def test_pq_rescore_matches_exact(embeddings, pq, metric):
    """With generous oversampling the exact top-k must survive the ADC
    coarse cut on this corpus — rescore then recovers the exact ranking."""
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    exact = _exact_ids(embeddings, q, metric, 10)
    got = [r["vec_id"] for r in pq_search(pq, q, k=10, oversampling=8.0,
                                          metric=metric).collect()]
    assert got == exact


def test_pq_coarse_recall(embeddings, pq):
    """ADC scores alone (rescore=False) must already rank well: recall@10
    floor over a handful of queries."""
    rows = embeddings.limit(5).collect()
    hits = 0
    for r in rows:
        q = list(r["embedding"])
        exact = set(_exact_ids(embeddings, q, "cosine", 10))
        got = {x["vec_id"] for x in
               pq_search(pq, q, k=10, metric="cosine", rescore=False).collect()}
        hits += len(exact & got)
    assert hits / (10 * len(rows)) >= 0.6


def test_pq_filtered(embeddings, pq):
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    flt = {"must": [{"key": "label", "range": {"lte": 5}}]}
    got = pq_search(pq, q, k=5, metric="cosine", flt=flt).collect()
    labels = {
        r["label"]
        for r in embeddings.filter(embeddings.vec_id.isin([g["vec_id"] for g in got]))
        .select("label").collect()
    }
    assert labels and all(l <= 5 for l in labels)


def test_pq_self_query_top1(embeddings, pq):
    r = embeddings.limit(3).collect()[2]
    got = pq_search(pq, list(r["embedding"]), k=3, oversampling=8.0).collect()
    assert got[0]["vec_id"] == r["vec_id"]


def test_bq_self_query_top1(embeddings, bq):
    """Querying with a corpus vector must return that point first after
    rescore (hamming distance to itself is 0, so it's always a candidate)."""
    r = embeddings.limit(3).collect()[2]
    got = bq_search(bq, list(r["embedding"]), k=3, oversampling=4.0).collect()
    assert got[0]["vec_id"] == r["vec_id"]


# ---------------------------------------------------------------------------
# TurboQuant (rotated 1/1.5/2/4-bit Lloyd-Max quantization)
# ---------------------------------------------------------------------------

from qdrant_spark.operators.quantize import (  # noqa: E402
    _tq_pack, _tq_rotate, _tq_rotation_params, _tq_unpack, _tq_unrotate,
    build_tq, tq_search,
)


@pytest.fixture(scope="module")
def tq(embeddings):
    idx = build_tq(embeddings, vec_col="embedding", id_col="vec_id", bits=2)
    idx.codes.cache().count()
    return idx


def test_tq_rotation_is_orthonormal_and_invertible():
    params = _tq_rotation_params(128, seed=11)
    V = np.random.default_rng(0).normal(size=(9, 128))
    R = _tq_rotate(V, params)
    assert np.allclose(np.linalg.norm(R, axis=1), np.linalg.norm(V, axis=1))
    assert np.allclose(_tq_unrotate(R, params), V)


@pytest.mark.parametrize("bpc", [1, 2, 4])
def test_tq_pack_roundtrip(bpc):
    codes = np.random.default_rng(1).integers(
        0, 2 ** bpc, size=(7, 64)).astype(np.uint8)
    assert (_tq_unpack(_tq_pack(codes, bpc), bpc, 64) == codes).all()


def test_tq_codes_width(tq):
    """2-bit codes over the 512-wide padded rotation = 128 bytes/vector —
    a 12x cut vs 384 float32s; plus two doubles of extras."""
    row = tq.codes.limit(1).collect()[0]
    assert len(row["__tq"]) == tq.padded_dim * 2 // 8
    assert row["__tq_l2"] > 0 and row["__tq_cn"] > 0


@pytest.mark.parametrize("metric", ["cosine", "dot", "euclid", "manhattan"])
def test_tq_full_probe_matches_exact(embeddings, tq, metric):
    """With the coarse cut disabled (oversampling covers the corpus) the
    exact rescore must reproduce the exact scan — same gate as SQ/PQ."""
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    exact = _exact_ids(embeddings, q, metric, 10)
    got = [r["vec_id"] for r in
           tq_search(tq, q, k=10, oversampling=100.0, metric=metric).collect()]
    assert got == exact


@pytest.mark.parametrize("bits", [1, 1.5, 4])
def test_tq_recall_by_bits(embeddings, bits):
    idx = build_tq(embeddings, vec_col="embedding", id_col="vec_id", bits=bits)
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    exact = set(_exact_ids(embeddings, q, "cosine", 10))
    got = {r["vec_id"] for r in
           tq_search(idx, q, k=10, oversampling=8.0, metric="cosine").collect()}
    floor = 0.6 if bits == 1 else 0.8
    assert len(exact & got) / 10 >= floor


def test_tq_filtered(embeddings, tq):
    flt = {"must": [{"key": "label", "range": {"lte": 5}}]}
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    got = tq_search(tq, q, k=5, oversampling=8.0, metric="cosine", flt=flt).collect()
    assert len(got) == 5
    labels = {
        r["label"]
        for r in embeddings.filter(embeddings.vec_id.isin([g["vec_id"] for g in got]))
        .select("label").collect()
    }
    assert labels and all(l <= 5 for l in labels)


def test_tq_self_query_top1(embeddings, tq):
    r = embeddings.limit(3).collect()[2]
    got = tq_search(tq, list(r["embedding"]), k=3, oversampling=8.0).collect()
    assert got[0]["vec_id"] == r["vec_id"]


def test_tq_plus_full_probe_matches_exact(embeddings):
    """TQ+ (quantile-anchored per-coordinate EC) keeps the exact-rescore
    contract; on near-isotropic data the fit collapses toward
    shift~0/scale~1 rather than distorting scores."""
    idx = build_tq(embeddings, vec_col="embedding", id_col="vec_id",
                   bits=1, plus=True)
    assert idx.ec_shift is not None and idx.ec_scale is not None
    assert np.abs(idx.ec_shift).mean() < 0.5
    assert abs(float(np.mean(idx.ec_scale)) - 1.0) < 0.5
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    exact = _exact_ids(embeddings, q, "cosine", 10)
    got = [r["vec_id"] for r in
           tq_search(idx, q, k=10, oversampling=100.0, metric="cosine").collect()]
    assert got == exact


def test_tq_plus_coarse_recall_not_worse_than_normal(embeddings):
    """At 1 bit the EC fit must not hurt coarse recall on this corpus."""
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    exact = set(_exact_ids(embeddings, q, "cosine", 10))

    def rec(plus):
        idx = build_tq(embeddings, vec_col="embedding", id_col="vec_id",
                       bits=1, plus=plus)
        got = {r["vec_id"] for r in
               tq_search(idx, q, k=10, oversampling=8.0,
                         metric="cosine").collect()}
        return len(exact & got)

    assert rec(True) >= rec(False) - 1


# --- BQ 2-bit / 1.5-bit encodings (BinaryQuantizationEncoding,
# types.rs:1036-1041; zones encoded_vectors_binary.rs:624-671) ------------


@pytest.fixture(scope="module")
def bq2(embeddings):
    idx = build_bq(embeddings, vec_col="embedding", id_col="vec_id",
                   encoding="two_bits")
    idx.packed.cache().count()
    return idx


@pytest.fixture(scope="module")
def bq15(embeddings):
    idx = build_bq(embeddings, vec_col="embedding", id_col="vec_id",
                   encoding="one_and_half_bits")
    idx.packed.cache().count()
    return idx


def test_bq2_bit_layout_matches_zone_oracle(spark):
    """Pin the 2-bit zone encoding on a hand-computed corpus: z-scores
    against per-dim mean/stddev_pop, zones (-inf,-2/3] -> 00,
    (-2/3, 2/3) -> 10, [2/3, inf) -> 11, layout [b1 bits | b2 bits]."""
    import numpy as np

    vecs = [[0.0, 10.0], [1.0, 10.0], [2.0, 10.0], [3.0, 10.0]]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id: long, vec: array<double>")
    idx = build_bq(df, encoding="two_bits")
    V = np.array(vecs)
    mean, sd = V.mean(axis=0), V.std(axis=0)
    rows = {r["id"]: r["__bq"][0] for r in idx.packed.collect()}
    for i, v in enumerate(vecs):
        bits = []
        for d in range(2):  # b1 section
            if sd[d] > 1e-12:
                bits.append(int((v[d] - mean[d]) / sd[d] > -2.0 / 3.0))
            else:
                bits.append(int(v[d] > mean[d]))
        for d in range(2):  # b2 section
            bits.append(int(sd[d] > 1e-12
                            and (v[d] - mean[d]) / sd[d] >= 2.0 / 3.0))
        word = 0
        for b in bits:
            word = (word << 1) | b
        assert rows[i] == word, (i, bits, rows[i])


def test_bq15_width_and_self_query(embeddings, bq15):
    dim = len(embeddings.select("embedding").first()["embedding"])
    ext = dim + (dim + 1) // 2
    row = bq15.packed.select("__bq").first()
    assert len(row["__bq"]) == (ext + 63) // 64
    r = embeddings.first()
    got = bq_search(bq15, list(r["embedding"]), k=3, oversampling=4.0).collect()
    assert got[0]["vec_id"] == r["vec_id"]


def test_bq2_recall_at_least_one_bit(embeddings, bq, bq2):
    """The 2-bit zones carry more information than the sign bit: recall@10
    at equal oversampling must at least match 1-bit (and clear the same
    floor)."""
    rows = embeddings.limit(5).collect()
    hits1 = hits2 = 0
    for r in rows:
        q = list(r["embedding"])
        exact = set(_exact_ids(embeddings, q, "cosine", 10))
        got1 = {x["vec_id"] for x in bq_search(bq, q, k=10, oversampling=4.0).collect()}
        got2 = {x["vec_id"] for x in bq_search(bq2, q, k=10, oversampling=4.0).collect()}
        hits1 += len(exact & got1)
        hits2 += len(exact & got2)
    assert hits2 >= hits1 - 2  # parity within noise at tiny sf
    assert hits2 / (10 * len(rows)) >= 0.5


def test_bq_bad_encoding_rejected(embeddings):
    with pytest.raises(ValueError, match="encoding"):
        build_bq(embeddings, vec_col="embedding", id_col="vec_id",
                 encoding="three_bits")


# ---------------------------------------------------------------------------
# Config-driven dispatch (QuantizationConfig -> QuantHandle) + split storage
# ---------------------------------------------------------------------------

from qdrant_spark.operators.quantize import (  # noqa: E402
    QuantHandle, build_quant, persist_quant, quant_search,
)


@pytest.mark.parametrize("config, kind", [
    ({"scalar": {"type": "int8", "quantile": 0.99}}, "scalar"),
    ({"product": {"compression": "x16"}}, "product"),
    ({"binary": {"encoding": "two_bits"}}, "binary"),
    ({"turbo": {"bits": "bits2"}}, "turbo"),
])
def test_build_quant_dispatch(embeddings, config, kind):
    """build_quant maps each QuantizationConfig variant (types.rs:1123)
    to its encoder, and quant_search returns the rescored exact top-k."""
    h = build_quant(embeddings, config, vec_col="embedding",
                    id_col="vec_id")
    assert isinstance(h, QuantHandle) and h.kind == kind
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    got = [r["vec_id"] for r in quant_search(
        h, q, k=10, metric="cosine", oversampling=8.0).collect()]
    exact = _exact_ids(embeddings, q, "cosine", 10)
    # rescore=on: exact scores, so equal whenever the coarse cut keeps
    # the true top-k — require >=8/10 for the lossier encoders
    assert len(set(got) & set(exact)) >= (10 if kind == "scalar" else 8)


def test_build_quant_rejects_bad_configs(embeddings):
    with pytest.raises(ValueError, match="exactly one"):
        build_quant(embeddings, {}, vec_col="embedding", id_col="vec_id")
    with pytest.raises(ValueError, match="exactly one"):
        build_quant(embeddings, {"scalar": {}, "binary": {}},
                    vec_col="embedding", id_col="vec_id")
    with pytest.raises(ValueError, match="compression"):
        build_quant(embeddings, {"product": {"compression": "x3"}},
                    vec_col="embedding", id_col="vec_id")
    with pytest.raises(ValueError, match="bits"):
        build_quant(embeddings, {"turbo": {"bits": "bits3"}},
                    vec_col="embedding", id_col="vec_id")


def test_pq_compression_ratio_sets_subspaces(embeddings):
    """x16 over a 64-dim corpus = 64*4/16 = 16 one-byte codes/row."""
    h = build_quant(embeddings, {"product": {"compression": "x16"}},
                    vec_col="embedding", id_col="vec_id")
    dim = len(embeddings.limit(1).collect()[0]["embedding"])
    assert h.index.n_subspaces == dim * 4 // 16


def test_persist_quant_split_storage(embeddings, tmp_path, spark):
    """persist_quant writes ONLY (id, code) columns; searches through the
    split handle match the in-memory handle, the coarse scan's parquet
    read schema holds no float vectors, and payload filters reach the
    coarse stage as an id semi-join."""
    cfg = {"scalar": {"type": "int8"}}
    h_mem = build_quant(embeddings, cfg, vec_col="embedding",
                        id_col="vec_id")
    h = persist_quant(h_mem, str(tmp_path / "qx"))
    q = list(embeddings.limit(1).collect()[0]["embedding"])

    # persisted parquet holds only the narrow columns
    cols = spark.read.parquet(str(tmp_path / "qx")).columns
    assert sorted(cols) == ["__sq", "vec_id"]

    want = [(r["vec_id"], round(r["score"], 9))
            for r in quant_search(h_mem, q, k=10, metric="cosine").collect()]
    got_df = quant_search(h, q, k=10, metric="cosine")
    got = [(r["vec_id"], round(r["score"], 9)) for r in got_df.collect()]
    assert got == want

    # filtered: evaluated on `full`, semi-joined into the coarse scan
    flt = {"must": [{"key": "label", "range": {"lte": 5}}]}
    fgot = quant_search(h, q, k=10, metric="cosine", flt=flt).collect()
    labels = {r["vec_id"]: r["label"]
              for r in embeddings.select("vec_id", "label").collect()}
    assert fgot and all(labels[r["vec_id"]] <= 5 for r in fgot)


def test_persist_quant_coarse_plan_reads_codes_only(embeddings, tmp_path):
    """The no-rescore plan over a split handle scans ONLY the persisted
    code parquet (ReadSchema has __sq, no embedding column read)."""
    h = persist_quant(
        build_quant(embeddings, {"scalar": {}}, vec_col="embedding",
                    id_col="vec_id"),
        str(tmp_path / "qp"))
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    out = quant_search(h, q, k=10, metric="cosine", rescore=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__sq" in plan
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all("embedding" not in ln for ln in scans)


# ---------------------------------------------------------------------------
# Planner + client routing (quantization_config -> transparent coarse+rescore)
# ---------------------------------------------------------------------------


def test_planner_routes_quantized(embeddings):
    """A dense nearest leaf on a column with a registered QuantHandle runs
    coarse+rescore (quant_leaves counted) and returns the exact top-k;
    params.quantization.ignore and params.exact fall back to the exact
    scan (no quant leaf)."""
    from qdrant_spark.query import QueryPlanner

    h = build_quant(embeddings, {"scalar": {"full_scan_threshold": 0}}, vec_col="embedding",
                    id_col="vec_id")
    pl = QueryPlanner(embeddings, id_col="vec_id",
                      default_vec_col="embedding",
                      indexes={"embedding": [h]})
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    exact = _exact_ids(embeddings, q, "cosine", 10)

    got = [r["vec_id"]
           for r in pl.plan({"query": {"nearest": q}, "limit": 10}).collect()]
    assert got == exact
    assert pl.last_plan_info.get("quant_leaves") == 1

    for params in ({"quantization": {"ignore": True}}, {"exact": True}):
        pl2 = QueryPlanner(embeddings, id_col="vec_id",
                           default_vec_col="embedding",
                           indexes={"embedding": [h]})
        got2 = [r["vec_id"] for r in pl2.plan(
            {"query": {"nearest": q}, "limit": 10,
             "params": params}).collect()]
        assert got2 == exact
        assert not pl2.last_plan_info.get("quant_leaves")


def test_planner_quantized_offset_threshold_filter(embeddings):
    """offset / score_threshold / filter compose with the quant leaf the
    same way they do with the exact scan."""
    from qdrant_spark.operators.knn import knn
    from qdrant_spark.query import QueryPlanner

    h = build_quant(embeddings, {"scalar": {"full_scan_threshold": 0}}, vec_col="embedding",
                    id_col="vec_id")
    pl = QueryPlanner(embeddings, id_col="vec_id",
                      default_vec_col="embedding",
                      indexes={"embedding": [h]})
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    base = knn(embeddings, q, metric="cosine", k=12, vec_col="embedding",
               id_col="vec_id", select=["vec_id", "score"]).collect()

    off = [r["vec_id"] for r in pl.plan(
        {"query": {"nearest": q}, "limit": 5, "offset": 3}).collect()]
    assert off == [r["vec_id"] for r in base][3:8]
    assert pl.last_plan_info.get("quant_leaves") == 1

    thr = float(base[4]["score"])  # strict: keeps scores > base[4]
    tgot = pl.plan({"query": {"nearest": q}, "limit": 10,
                    "score_threshold": thr}).collect()
    assert [r["vec_id"] for r in tgot] == \
        [r["vec_id"] for r in base if r["score"] > thr]

    flt = {"must": [{"key": "label", "range": {"lte": 5}}]}
    fgot = pl.plan({"query": {"nearest": q}, "limit": 10,
                    "filter": flt}).collect()
    labels = {r["vec_id"]: r["label"]
              for r in embeddings.select("vec_id", "label").collect()}
    assert fgot and all(labels[r["vec_id"]] <= 5 for r in fgot)


def test_client_quantization_config_end_to_end(spark, tmp_path):
    """create_collection(quantization_config=...) + ensure_vector_index
    builds + persists the codes; query_points transparently runs
    coarse+rescore (same answers as exact), SearchParams.quantization
    tunes per request, and mutations invalidate the built index."""
    from qdrant_spark.client import QdrantSparkClient

    c = QdrantSparkClient(spark, root=str(tmp_path))
    c.create_collection(
        "qc", vectors_config={"size": 8, "distance": "Cosine"},
        quantization_config={"scalar": {"type": "int8", "quantile": 0.99}})
    info = c.get_collection("qc")
    assert info["config"]["params"]["vectors"][""][
        "quantization_config"] == {"scalar": {"type": "int8",
                                              "quantile": 0.99}}
    import random

    rng = random.Random(3)
    pts = [{"id": i, "vector": [rng.uniform(-1, 1) for _ in range(8)],
            "payload": {"g": i % 3}} for i in range(200)]
    c.upsert("qc", pts)
    assert c.ensure_vector_index("qc", indexing_threshold=0) == "built"
    assert c.ensure_vector_index("qc", indexing_threshold=0) == "exists"
    # persisted narrow codes parquet exists
    import os

    assert os.path.isdir(str(tmp_path / "qc" / "quant_index_default"))

    q = pts[7]["vector"]
    exact = c.query_points("qc", query=q, limit=10,
                           search_params={"exact": True})
    quant = c.query_points("qc", query=q, limit=10)
    assert [p.id for p in quant.points] == [p.id for p in exact.points]
    for a, b in zip(quant.points, exact.points):
        assert abs(a.score - b.score) < 1e-9  # rescore is exact

    # per-request tuning accepted: ignore + custom oversampling
    ig = c.query_points("qc", query=q, limit=10,
                        search_params={"quantization": {"ignore": True}})
    assert [p.id for p in ig.points] == [p.id for p in exact.points]
    ov = c.query_points(
        "qc", query=q, limit=10,
        search_params={"quantization": {"oversampling": 10.0,
                                        "rescore": True}})
    assert [p.id for p in ov.points] == [p.id for p in exact.points]

    # filtered quantized search respects the filter
    fres = c.query_points("qc", query=q, limit=10,
                          query_filter={"must": [
                              {"key": "g", "match": {"value": 1}}]})
    assert fres.points and all(p.id % 3 == 1 for p in fres.points)

    # mutation invalidates the registered handle; the next ensure RELOADS
    # the persisted codes (row drift 1/200 < stale_fraction — the same
    # serve-until-drift contract ensure_ann_index has; rows missing from
    # the loaded codes don't participate in the coarse stage until the
    # drift trigger rebuilds)
    c.upsert("qc", [{"id": 999, "vector": pts[0]["vector"],
                     "payload": {"g": 0}}])
    assert c._coll("qc").quant == {}
    assert c.ensure_vector_index("qc", indexing_threshold=0) == "loaded"

    # a NEW client session over the same root reloads without retraining
    c2 = QdrantSparkClient(spark, root=str(tmp_path))
    c2.create_collection(
        "qc", vectors_config={"size": 8, "distance": "Cosine"},
        quantization_config={"scalar": {"type": "int8", "quantile": 0.99}})
    c2.upsert("qc", pts)
    assert c2.ensure_vector_index("qc", indexing_threshold=0) == "loaded"
    q2 = c2.query_points("qc", query=q, limit=10)
    assert [p.id for p in q2.points] == [p.id for p in exact.points]

    # config mismatch rebuilds (mismatch_requires_rebuild)
    c2.update_collection("qc", quantization_config={"binary": {}})
    assert c2.ensure_vector_index("qc", indexing_threshold=0) == "rebuilt"


def test_client_update_collection_quantization(spark):
    """PATCH-style quantization_config swap drops built codes (rebuild on
    next ensure), mirroring mismatch_requires_rebuild."""
    from qdrant_spark.client import QdrantSparkClient

    c = QdrantSparkClient(spark)
    c.create_collection("qu", vectors_config={"size": 4,
                                              "distance": "Dot"})
    c.upsert("qu", [{"id": i, "vector": [float(i), 1.0, 0.0, 0.0]}
                    for i in range(50)])
    # no quantization declared: ensure builds a plain IVF path instead
    assert c._coll("qu").vectors[""].quantization is None
    c.update_collection("qu", quantization_config={"binary": {}})
    assert c._coll("qu").vectors[""].quantization == {"binary": {}}
    assert c.ensure_vector_index("qu", indexing_threshold=0) == "built"
    assert "" in c._coll("qu").quant
    c.update_collection("qu", quantization_config={"scalar": {}})
    assert c._coll("qu").quant == {}  # mismatch drops the built codes


def _rrf_of_legs_alone(planner, req):
    """(id, score rounded to 9 places) of ``fusion.rrf`` over each of the
    request's prefetch legs planned alone, each in its own direction."""
    from qdrant_spark.operators.fusion import rrf

    legs, orders = [], []
    for leg in req["prefetch"]:
        legs.append(planner.plan(leg))
        orders.append(planner.last_plan_direction)
    out = rrf(legs, orders=orders, id_col=planner.id_col, limit=req["limit"])
    return [(r[planner.id_col], round(r["score"], 9)) for r in out.collect()]


def test_quant_leaves_not_fused(embeddings):
    """Sibling dense legs on a quant-registered column never join the
    exact shared scan (fusing would bypass the declared plan and change
    values for rescore=false requests): they share ONE coarse code scan
    through the batch grouper, and the fused root equals RRF over each
    leg planned alone."""
    from qdrant_spark.query import QueryPlanner

    h = build_quant(embeddings, {"scalar": {"full_scan_threshold": 0}}, vec_col="embedding",
                    id_col="vec_id")
    rows = embeddings.limit(2).collect()
    q1, q2 = (list(r["embedding"]) for r in rows)
    req = {"prefetch": [
        {"query": {"nearest": q1}, "limit": 20},
        {"query": {"nearest": q2}, "limit": 20},
    ], "query": {"fusion": "rrf"}, "limit": 10}
    pl = QueryPlanner(embeddings, id_col="vec_id",
                      default_vec_col="embedding",
                      fuse_min_bytes=0,  # force fusion-eligible size
                      indexes={"embedding": [h]})
    got = [(r["vec_id"], round(r["score"], 9)) for r in pl.plan(req).collect()]
    assert pl.last_plan_info["fused_legs"] == 0
    assert pl.last_plan_info.get("quant_batch_groups") == 1
    assert got and got == _rrf_of_legs_alone(pl, req)
    # same request without quant fuses (sanity that the gate is the cause)
    pl2 = QueryPlanner(embeddings, id_col="vec_id",
                       default_vec_col="embedding", fuse_min_bytes=0)
    pl2.plan(req).count()
    assert pl2.last_plan_info["fused_legs"] == 2


@pytest.mark.parametrize("metric", ["cosine", "euclid"])
def test_quant_prefetch_siblings_share_one_group(embeddings, metric):
    """An RRF root over two scalar-quantized legs groups them through the
    grouper query_batch uses: one coarse code scan, no exact dense group,
    and the fused hits equal RRF over each leg planned alone. On euclid
    the legs rank smaller-is-better, so a wrong leg direction shows."""
    from qdrant_spark.query import QueryPlanner

    h = build_quant(embeddings, {"scalar": {"full_scan_threshold": 0}},
                    vec_col="embedding", id_col="vec_id")
    rows = embeddings.limit(2).collect()
    q1, q2 = (list(r["embedding"]) for r in rows)
    req = {"prefetch": [
        {"query": {"nearest": q1}, "limit": 15},
        {"query": {"nearest": q2}, "limit": 20, "offset": 2},
    ], "query": {"fusion": "rrf"}, "limit": 10}
    pl = QueryPlanner(embeddings, id_col="vec_id",
                      default_vec_col="embedding", metric=metric,
                      indexes={"embedding": [h]})
    got = [(r["vec_id"], round(r["score"], 9)) for r in pl.plan(req).collect()]
    assert pl.last_plan_info.get("quant_batch_groups") == 1
    assert pl.last_plan_info["fused_legs"] == 0
    assert pl.last_plan_info["driver_fused_root"] == 1
    assert len(got) == 10
    assert got == _rrf_of_legs_alone(pl, req)


def test_query_batch_groups_quant_through_codes(embeddings):
    """query_batch answers >=2 unfiltered dense requests on a
    scalar-quantized column with ONE coarse code scan + ONE pair rescore;
    per-request offset / score_threshold / oversampling / rescore=False
    results are value-identical to planning each request alone."""
    from qdrant_spark.operators import knn as K
    from qdrant_spark.query import query_batch

    h = build_quant(embeddings, {"scalar": {"full_scan_threshold": 0}}, vec_col="embedding",
                    id_col="vec_id")
    rows = embeddings.limit(3).collect()
    q1, q2, q3 = (list(r["embedding"]) for r in rows)
    reqs = [
        {"query": {"nearest": q1}, "limit": 5, "offset": 2},
        {"query": {"nearest": q2}, "limit": 5,
         "params": {"quantization": {"oversampling": 6.0}}},
        {"query": {"nearest": q3}, "limit": 5,
         "params": {"quantization": {"rescore": False}}},
        {"query": {"nearest": q1}, "limit": 8, "score_threshold": 0.1},
    ]
    kw = dict(id_col="vec_id", vec_col="embedding",
              indexes={"embedding": [h]})
    want = [query_batch(embeddings, [dict(r)], **kw).collect()
            for r in reqs]

    calls = []
    orig = K._matmul_knn
    K._matmul_knn = lambda *a, **k2: calls.append(1) or orig(*a, **k2)
    try:
        got = query_batch(embeddings, [dict(r) for r in reqs],
                          **kw).collect()
    finally:
        K._matmul_knn = orig
    by_req: dict = {}
    for r in got:
        by_req.setdefault(r["request_idx"], []).append(
            (r["vec_id"], round(r["score"], 6)))
    for i, w in enumerate(want):
        exp = sorted((r["vec_id"], round(r["score"], 6)) for r in w)
        assert sorted(by_req.get(i, [])) == exp, i
    # the whole batch ran ONE coarse matmul scan (single-request plans in
    # `want` each ran their own, so count only the grouped run)
    assert len(calls) == 1


def test_query_batch_groups_pq_through_codes(embeddings):
    """The batched quant grouping covers PRODUCT handles too: the shared
    Arrow scan reconstructs x_hat from the codes (ADC decomposes exactly
    into the metric against the reconstruction), value-identical per
    request to planning each alone."""
    from qdrant_spark.operators import knn as K
    from qdrant_spark.query import query_batch

    h = build_quant(embeddings, {"product": {"compression": "x8",
                                             "full_scan_threshold": 0}},
                    vec_col="embedding", id_col="vec_id")
    rows = embeddings.limit(2).collect()
    q1, q2 = (list(r["embedding"]) for r in rows)
    reqs = [
        {"query": {"nearest": q1}, "limit": 5,
         "params": {"quantization": {"oversampling": 8.0}}},
        {"query": {"nearest": q2}, "limit": 4, "offset": 1,
         "params": {"quantization": {"oversampling": 8.0}}},
    ]
    kw = dict(id_col="vec_id", vec_col="embedding",
              indexes={"embedding": [h]})
    want = [query_batch(embeddings, [dict(r)], **kw).collect()
            for r in reqs]
    calls = []
    orig = K._matmul_knn
    K._matmul_knn = lambda *a, **k2: calls.append(1) or orig(*a, **k2)
    try:
        got = query_batch(embeddings, [dict(r) for r in reqs],
                          **kw).collect()
    finally:
        K._matmul_knn = orig
    assert len(calls) == 1
    by_req: dict = {}
    for r in got:
        by_req.setdefault(r["request_idx"], []).append(
            (r["vec_id"], round(r["score"], 6)))
    for i, w in enumerate(want):
        assert sorted(by_req.get(i, [])) == \
            sorted((r["vec_id"], round(r["score"], 6)) for r in w), i


def test_shard_scoped_query_bypasses_quant_index(spark):
    """A shard-scoped request must NOT route through the whole-corpus
    quantized index — it would leak other shards' points (same contract
    as the IVF/sparse bypass)."""
    from qdrant_spark.client import QdrantSparkClient

    c = QdrantSparkClient(spark)
    c.create_collection(
        "qshard", vectors_config={"size": 4, "distance": "Dot"},
        sharding_method="custom",
        quantization_config={"scalar": {}})
    c.create_shard_key("qshard", "a")
    c.create_shard_key("qshard", "b")
    for key, base in (("a", 0), ("b", 100)):
        c.upsert("qshard",
                 [{"id": base + i, "vector": [float(base + i), 1.0, 0.0, 0.0]}
                  for i in range(20)],
                 shard_key_selector=key)
    assert c.ensure_vector_index("qshard", indexing_threshold=0) == "built"
    # unscoped: routed through quant, best dot lives in shard b
    allr = c.query_points("qshard", query=[1.0, 0.0, 0.0, 0.0], limit=5)
    assert all(p.id >= 100 for p in allr.points)
    # shard-scoped: only shard a's points, despite the whole-corpus codes
    scoped = c.query_points("qshard", query=[1.0, 0.0, 0.0, 0.0], limit=5,
                            shard_key_selector="a")
    assert scoped.points and all(p.id < 100 for p in scoped.points)
    assert [p.id for p in scoped.points] == [19, 18, 17, 16, 15]


def test_quant_threshold_with_rescore_false_thresholds_coarse(embeddings):
    """score_threshold + quantization rescore=false is ACCEPTED and
    thresholds the returned quantized scores (the reference applies
    check_threshold to whatever scores it returns, types.rs:364-369;
    r10 ADVICE — previously raised ValueError)."""
    from qdrant_spark.query import QueryPlanner

    h = build_quant(embeddings, {"scalar": {"full_scan_threshold": 0}}, vec_col="embedding",
                    id_col="vec_id")
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    pl = QueryPlanner(embeddings, id_col="vec_id",
                      default_vec_col="embedding", metric="cosine",
                      indexes={"embedding": [h]})
    base = pl.plan({"query": {"nearest": q}, "limit": 10,
                    "params": {"quantization": {"rescore": False}}})
    rows = [(r["vec_id"], r["score"]) for r in base.collect()]
    thr = sorted((s for _, s in rows), reverse=True)[4]  # keep top ~5
    got = pl.plan({"query": {"nearest": q}, "limit": 10,
                   "score_threshold": thr,
                   "params": {"quantization": {"rescore": False}}})
    want = sorted(((i, round(s, 9)) for i, s in rows if s > thr))
    assert sorted((r["vec_id"], round(r["score"], 9))
                  for r in got.collect()) == want
    assert pl.last_plan_info.get("quant_leaves") == 1


def test_quant_threshold_rescore_false_binary_direction(embeddings):
    """Binary coarse scores are the ±1-dot estimate (larger-better
    whatever the metric) — the threshold applies in THAT direction, the
    plan reports that direction, and a fusion root ranks the leg by it."""
    from qdrant_spark.query import QueryPlanner

    h = build_quant(embeddings, {"binary": {"full_scan_threshold": 0}},
                    vec_col="embedding", id_col="vec_id")
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    pl = QueryPlanner(embeddings, id_col="vec_id",
                      default_vec_col="embedding", metric="euclid",
                      indexes={"embedding": [h]})
    leg = {"query": {"nearest": q}, "limit": 10,
           "params": {"quantization": {"rescore": False}}}
    base = pl.plan(leg)
    assert pl.last_plan_direction is True
    rows = [(r["vec_id"], r["score"]) for r in base.collect()]
    fused = pl.plan({"prefetch": [leg, leg], "query": {"fusion": "rrf"},
                     "limit": 5}).collect()
    best = sorted(rows, key=lambda t: (-t[1], t[0]))[:5]
    assert [r["vec_id"] for r in fused] == [i for i, _ in best]
    thr = sorted((s for _, s in rows), reverse=True)[4]
    got = pl.plan({"query": {"nearest": q}, "limit": 10,
                   "score_threshold": thr,
                   "params": {"quantization": {"rescore": False}}})
    want = sorted(((i, round(s, 9)) for i, s in rows if s > thr))
    assert sorted((r["vec_id"], round(r["score"], 9))
                  for r in got.collect()) == want


def _batch_vs_single(embeddings, config, reqs, metric="cosine"):
    from qdrant_spark.operators import knn as K
    from qdrant_spark.query import query_batch

    h = build_quant(embeddings, config, vec_col="embedding",
                    id_col="vec_id")
    # pin the quantized route: the tiny fixture sits below the planner's
    # exact-vs-quantized crossover (quantize.QUANT_FULL_SCAN_THRESHOLD)
    h.full_scan_threshold = 0
    kw = dict(id_col="vec_id", vec_col="embedding", metric=metric,
              indexes={"embedding": [h]})
    want = [query_batch(embeddings, [dict(r)], **kw).collect()
            for r in reqs]
    calls = []
    orig = K._matmul_knn
    K._matmul_knn = lambda *a, **k2: calls.append(1) or orig(*a, **k2)
    try:
        got = query_batch(embeddings, [dict(r) for r in reqs],
                          **kw).collect()
    finally:
        K._matmul_knn = orig
    assert len(calls) == 1  # ONE shared coarse scan for the whole batch
    by_req: dict = {}
    for r in got:
        by_req.setdefault(r["request_idx"], []).append(
            (r["vec_id"], round(r["score"], 6)))
    for i, w in enumerate(want):
        assert sorted(by_req.get(i, [])) == \
            sorted((r["vec_id"], round(r["score"], 6)) for r in w), i


def test_query_batch_groups_bq_through_codes(embeddings):
    """The batched quant grouping covers BINARY handles (r10 VERDICT #3):
    the shared scan unpacks words to ±1 rows, whose dot reproduces the
    XOR/hamming coarse order exactly — batch == single per request,
    including rescore=False (the ±1-dot estimate) and its threshold."""
    rows = embeddings.limit(3).collect()
    q1, q2, q3 = (list(r["embedding"]) for r in rows)
    _batch_vs_single(embeddings, {"binary": {"encoding": "two_bits"}}, [
        {"query": {"nearest": q1}, "limit": 5,
         "params": {"quantization": {"oversampling": 8.0}}},
        {"query": {"nearest": q2}, "limit": 4, "offset": 1},
        {"query": {"nearest": q3}, "limit": 6,
         "params": {"quantization": {"rescore": False}}},
        {"query": {"nearest": q1}, "limit": 8, "score_threshold": 10.0,
         "params": {"quantization": {"rescore": False}}},
    ])


def test_query_batch_null_oversampling_matches_single(embeddings):
    """``quantization.oversampling: null`` falls back to the handle's
    default in a batch group exactly as in the single-request leaf
    (quant_search) — the batch group used to raise TypeError on it."""
    rows = embeddings.limit(2).collect()
    _batch_vs_single(embeddings, {"scalar": {}}, [
        {"query": {"nearest": list(r["embedding"])}, "limit": 5,
         "params": {"quantization": {"oversampling": None}}}
        for r in rows])


@pytest.mark.parametrize("metric", ["cosine", "euclid", "manhattan"])
def test_query_batch_groups_tq_through_codes(embeddings, metric):
    """The batched quant grouping covers TURBO handles (r10 VERDICT #3):
    the shared scan rebuilds the renormed rotated reconstruction —
    dot/cosine/euclid score in rotated space, manhattan un-rotates —
    batch == single per request for every metric."""
    rows = embeddings.limit(2).collect()
    q1, q2 = (list(r["embedding"]) for r in rows)
    _batch_vs_single(embeddings, {"turbo": {"bits": "bits4"}}, [
        {"query": {"nearest": q1}, "limit": 5,
         "params": {"quantization": {"oversampling": 8.0}}},
        {"query": {"nearest": q2}, "limit": 4,
         "params": {"quantization": {"rescore": False}}},
    ], metric=metric)


# ---------------------------------------------------------------------------
# Asymmetric binary query encoding (BinaryQuantizationQueryEncoding,
# types.rs:1188-1201; encoded_vectors_binary.rs:673-760): the query keeps
# 4/8-bit scalar precision against 1/1.5/2-bit storage
# ---------------------------------------------------------------------------


def _asym_mirror_scores(index, rows, q):
    """Pure-python reference mirror of the asymmetric scorer: per doc,
    xor = sum_i (q_i where s_i=0 else ranges-q_i), score =
    ext_dim - (2/ranges)*xor — storage bits via the same-as-storage
    encoder (encode_vector is shared by storage and symmetric queries)."""
    from qdrant_spark.operators.quantize import (
        _bq_ext_dim, bq_query_bits, bq_scalar_query_codes,
    )

    codes, ranges = bq_scalar_query_codes(index, q)
    ext = _bq_ext_dim(len(index.means), index.encoding)
    scale = 2.0 / ranges
    out = {}
    for vid, v in rows:
        s = bq_query_bits(index, v)
        xor = int(np.where(s == 1, ranges - codes, codes).sum())
        out[vid] = float(ext) - scale * xor
    return out


@pytest.mark.parametrize("encoding", ["one_bit", "two_bits",
                                      "one_and_half_bits"])
@pytest.mark.parametrize("qenc", ["scalar4bits", "scalar8bits"])
def test_bq_asym_scores_match_mirror(embeddings, encoding, qenc):
    """The plane-packed XOR scan (bits_count popcounts shift-summed)
    reproduces the reference's per-dimension asymmetric quantity exactly
    for every storage encoding x query width."""
    sub = embeddings.limit(40).cache()
    idx = build_bq(sub, vec_col="embedding", id_col="vec_id",
                   encoding=encoding, query_encoding=qenc)
    rows = [(r["vec_id"], list(r["embedding"])) for r in sub.collect()]
    q = rows[3][1]
    want = _asym_mirror_scores(idx, rows, q)
    got = {r["vec_id"]: r["score"]
           for r in bq_search(idx, q, k=len(rows), oversampling=1.0,
                              rescore=False).collect()}
    assert got == {k: want[k] for k in got}
    assert len(got) == len(rows)
    sub.unpersist()


def test_bq_asym_rescore_recovers_exact(embeddings):
    """Ample oversampling + rescore: the asymmetric coarse stage feeds
    the exact scorer, recovering the true top-k like every other kind;
    8-bit queries should rank at least as well as 1-bit ones."""
    idx = build_bq(embeddings, vec_col="embedding", id_col="vec_id",
                   query_encoding="scalar8bits")
    r = embeddings.first()
    q = list(r["embedding"])
    exact = _exact_ids(embeddings, q, "cosine", 10)
    got = [x["vec_id"] for x in
           bq_search(idx, q, k=10, oversampling=8.0).collect()]
    assert got[0] == r["vec_id"]
    assert len(set(got) & set(exact)) >= 6


def test_bq_asym_state_roundtrip(embeddings):
    """quant_state/quant_from_state carry query_encoding, so a reloaded
    session scores asymmetrically without re-fitting."""
    from qdrant_spark.operators.quantize import (
        quant_from_state, quant_state,
    )

    h = build_quant(embeddings,
                    {"binary": {"encoding": "two_bits",
                                "query_encoding": "scalar4bits"}},
                    vec_col="embedding", id_col="vec_id")
    arrays, scalars = quant_state(h)
    assert scalars["query_encoding"] == "scalar4bits"
    h2 = quant_from_state(
        "binary", h.codes_frame(), embeddings, vec_col="embedding",
        id_col="vec_id", arrays=arrays, scalars=scalars,
        oversampling=h.oversampling)
    assert h2.index.query_encoding == "scalar4bits"
    q = list(embeddings.first()["embedding"])
    a = [(r["vec_id"], round(r["score"], 9)) for r in quant_search(
        h, q, k=8, metric="cosine", rescore=False).collect()]
    b = [(r["vec_id"], round(r["score"], 9)) for r in quant_search(
        h2, q, k=8, metric="cosine", rescore=False).collect()]
    assert a == b


def test_bq_asym_bad_query_encoding_rejected(embeddings):
    from qdrant_spark.operators.quantize import quant_kind

    with pytest.raises(ValueError, match="query_encoding"):
        build_bq(embeddings, vec_col="embedding", id_col="vec_id",
                 query_encoding="scalar2bits")
    with pytest.raises(ValueError, match="query_encoding"):
        quant_kind({"binary": {"query_encoding": "nope"}})
    # "default" and "binary" mean same-as-storage — both accepted
    assert quant_kind({"binary": {"query_encoding": "Binary"}}) == "binary"


def test_query_batch_groups_bq_asym_through_codes(embeddings):
    """Asymmetric requests fuse into the same ONE ±1 scan — the query
    rows (2q - R)/R make the dot equal ext_dim - 2*xor/ranges, so batch
    == single per request including rescore=False and its threshold."""
    rows = embeddings.limit(3).collect()
    q1, q2, q3 = (list(r["embedding"]) for r in rows)
    _batch_vs_single(
        embeddings,
        {"binary": {"encoding": "one_and_half_bits",
                    "query_encoding": "scalar8bits"}}, [
            {"query": {"nearest": q1}, "limit": 5,
             "params": {"quantization": {"oversampling": 8.0}}},
            {"query": {"nearest": q2}, "limit": 4, "offset": 1},
            {"query": {"nearest": q3}, "limit": 6,
             "params": {"quantization": {"rescore": False}}},
            {"query": {"nearest": q1}, "limit": 8, "score_threshold": 10.0,
             "params": {"quantization": {"rescore": False}}},
        ])


def test_client_bq_asym_end_to_end(spark, tmp_path):
    """Declared asymmetric binary quantization through the full client
    stack: create_collection accepts query_encoding, the built index
    scores asymmetrically, a new session RELOADS it (query_encoding in
    the persisted scalars), and changing only query_encoding is a config
    mismatch that REBUILDS (the reference hashes the whole
    BinaryQuantizationConfig, types.rs:1143-1151)."""
    import random

    from qdrant_spark.client import QdrantSparkClient

    cfg = {"binary": {"encoding": "one_bit",
                      "query_encoding": "scalar8bits"}}
    c = QdrantSparkClient(spark, root=str(tmp_path))
    c.create_collection("ab", vectors_config={"size": 8,
                                              "distance": "Cosine"},
                        quantization_config=cfg)
    rng = random.Random(5)
    pts = [{"id": i, "vector": [rng.uniform(-1, 1) for _ in range(8)]}
           for i in range(150)]
    c.upsert("ab", pts)
    assert c.ensure_vector_index("ab", indexing_threshold=0) == "built"
    assert c._coll("ab").quant[""].index.query_encoding == "scalar8bits"

    q = pts[11]["vector"]
    exact = c.query_points("ab", query=q, limit=10,
                           search_params={"exact": True})
    got = c.query_points(
        "ab", query=q, limit=10,
        search_params={"quantization": {"oversampling": 10.0}})
    assert len(set(p.id for p in got.points)
               & set(p.id for p in exact.points)) >= 8
    assert got.points[0].id == 11

    # new session over the same root: loaded, still asymmetric
    c2 = QdrantSparkClient(spark, root=str(tmp_path))
    c2.create_collection("ab", vectors_config={"size": 8,
                                               "distance": "Cosine"},
                         quantization_config=cfg)
    c2.upsert("ab", pts)
    assert c2.ensure_vector_index("ab", indexing_threshold=0) == "loaded"
    assert c2._coll("ab").quant[""].index.query_encoding == "scalar8bits"

    # flipping ONLY query_encoding rebuilds
    c2.update_collection(
        "ab", quantization_config={"binary": {
            "encoding": "one_bit", "query_encoding": "default"}})
    assert c2.ensure_vector_index("ab", indexing_threshold=0) == "rebuilt"
    assert c2._coll("ab").quant[""].index.query_encoding == "default"


def test_planner_routes_recommend_avg_through_quant(embeddings):
    """avg_vector recommend reduces to a dense nearest on the merged
    vector (recommendations.rs recommend_by_avg_vector ->
    CoreSearchRequest), so it inherits the quantized route — and the
    values equal the exact avg_vector operator. best_score keeps its
    dedicated scorer (no quant leaf). Id-referenced examples stay
    excluded (the root-filter exclusion runs before the rewrite)."""
    from qdrant_spark.operators.recommend import recommend_avg_vector
    from qdrant_spark.query import QueryPlanner

    h = build_quant(embeddings, {"scalar": {"full_scan_threshold": 0}}, vec_col="embedding",
                    id_col="vec_id")
    rows = embeddings.limit(2).collect()
    p1, p2 = (list(r["embedding"]) for r in rows)
    pl = QueryPlanner(embeddings, id_col="vec_id",
                      default_vec_col="embedding",
                      indexes={"embedding": [h]})
    got = pl.plan({"query": {"recommend": {"positive": [p1, p2]}},
                   "limit": 10}).collect()
    assert pl.last_plan_info.get("quant_leaves") == 1
    want = recommend_avg_vector(
        embeddings, [p1, p2], metric="cosine", k=10,
        vec_col="embedding", id_col="vec_id").collect()
    assert [(r["vec_id"], round(r["score"], 9)) for r in got] == \
        [(r["vec_id"], round(r["score"], 9)) for r in want]

    # id-referenced: the examples never appear in the output
    pl2 = QueryPlanner(embeddings, id_col="vec_id",
                       default_vec_col="embedding",
                       indexes={"embedding": [h]})
    ids = [rows[0]["vec_id"], rows[1]["vec_id"]]
    got2 = pl2.plan({"query": {"recommend": {
        "positive": [{"id": ids[0]}, {"id": ids[1]}]}},
        "limit": 10}).collect()
    assert pl2.last_plan_info.get("quant_leaves") == 1
    assert not set(ids) & {r["vec_id"] for r in got2}

    # best_score keeps its dedicated multi-target scorer
    pl3 = QueryPlanner(embeddings, id_col="vec_id",
                       default_vec_col="embedding",
                       indexes={"embedding": [h]})
    got3 = pl3.plan({"query": {"recommend": {
        "positive": [p1], "negative": [p2],
        "strategy": "best_score"}}, "limit": 5}).collect()
    assert len(got3) == 5
    assert not pl3.last_plan_info.get("quant_leaves")


def test_query_batch_fuses_literal_avg_recommends(embeddings):
    """avg_vector recommends with literal dense examples reduce to
    nearest BEFORE batch grouping, so >=2 of them on a quantized column
    share the ONE coarse scan — values identical to planning each
    request alone."""
    from qdrant_spark.query import query_batch

    h = build_quant(embeddings, {"scalar": {"full_scan_threshold": 0}}, vec_col="embedding",
                    id_col="vec_id")
    rows = embeddings.limit(3).collect()
    p1, p2, p3 = (list(r["embedding"]) for r in rows)
    reqs = [
        {"query": {"recommend": {"positive": [p1, p2]}}, "limit": 5},
        {"query": {"recommend": {"positive": [p3], "negative": [p1]}},
         "limit": 5},
    ]
    kw = dict(id_col="vec_id", vec_col="embedding", metric="cosine",
              indexes={"embedding": [h]})
    want = [query_batch(embeddings, [dict(r)], **kw).collect()
            for r in reqs]
    from qdrant_spark.operators import knn as K

    calls = []
    orig = K._matmul_knn
    K._matmul_knn = lambda *a, **k2: calls.append(1) or orig(*a, **k2)
    try:
        got = query_batch(embeddings, [dict(r) for r in reqs], **kw)
        rows_out = got.collect()
    finally:
        K._matmul_knn = orig
    assert len(calls) == 1  # ONE shared coarse scan for both recommends
    by_req: dict = {}
    for r in rows_out:
        by_req.setdefault(r["request_idx"], []).append(
            (r["vec_id"], round(r["score"], 9)))
    for i, w in enumerate(want):
        assert by_req[i] == [(r["vec_id"], round(r["score"], 9))
                             for r in w], i


# ---------------------------------------------------------------------------
# Exact-vs-quantized corpus-size crossover (r12): below the threshold the
# planner stands the quant routes down — single leaf AND batch — and takes
# the exact scan / exact fused matmul instead (the dense twin of the MaxSim
# full_scan_threshold guard; BENCH_r11 measured the fused coarse route 4x
# slower than the fused exact matmul at 512k page-cached rows)
# ---------------------------------------------------------------------------


def test_quant_crossover_single_leaf(embeddings):
    """With the DEFAULT threshold (2M docs) a small corpus plans the
    exact scan (no quant leaf); full_scan_threshold=0 pins the quantized
    route; a threshold at/below the corpus size engages it too."""
    from qdrant_spark.query import QueryPlanner

    q = list(embeddings.limit(1).collect()[0]["embedding"])
    exact = _exact_ids(embeddings, q, "cosine", 10)

    h = build_quant(embeddings, {"scalar": {}}, vec_col="embedding",
                    id_col="vec_id")  # default threshold
    pl = QueryPlanner(embeddings, id_col="vec_id",
                      default_vec_col="embedding",
                      indexes={"embedding": [h]})
    got = [r["vec_id"]
           for r in pl.plan({"query": {"nearest": q}, "limit": 10}).collect()]
    assert got == exact
    assert not pl.last_plan_info.get("quant_leaves")

    # declared threshold <= corpus size -> quant route engages
    n = embeddings.count()
    h2 = build_quant(embeddings, {"scalar": {"full_scan_threshold": n}},
                     vec_col="embedding", id_col="vec_id")
    pl2 = QueryPlanner(embeddings, id_col="vec_id",
                       default_vec_col="embedding",
                       indexes={"embedding": [h2]})
    got2 = [r["vec_id"] for r in
            pl2.plan({"query": {"nearest": q}, "limit": 10}).collect()]
    assert got2 == exact
    assert pl2.last_plan_info.get("quant_leaves") == 1
    assert h2.n_docs == n  # cached on the handle, counted once


def test_quant_crossover_batch_falls_back_to_fused_exact(embeddings):
    """Below the crossover a >=2-request dense batch on a
    quant-registered column joins the exact fused matmul group (ONE
    shared scan, no quant_batch_groups) instead of the coarse code scan
    — the r11-verdict batch fix. Values equal the exact per-request
    plans."""
    from qdrant_spark.query import query_batch

    h = build_quant(embeddings, {"scalar": {}}, vec_col="embedding",
                    id_col="vec_id")  # default threshold, corpus far below
    rows = embeddings.limit(3).collect()
    qs = [list(r["embedding"]) for r in rows]
    reqs = [{"query": {"nearest": q}, "limit": 5} for q in qs]
    kw = dict(id_col="vec_id", vec_col="embedding",
              indexes={"embedding": [h]}, fuse_min_bytes=0)

    from qdrant_spark import query as QM

    seen = {}
    orig_qb = QM._fuse_batch

    def spy(planner, requests, outs):
        orig_qb(planner, requests, outs)
        seen["info"] = dict(planner.last_plan_info)
        seen["planner"] = planner

    QM._fuse_batch = spy
    try:
        got = query_batch(embeddings, [dict(r) for r in reqs],
                          **kw).collect()
    finally:
        QM._fuse_batch = orig_qb
    info = seen["planner"].last_plan_info
    assert not info.get("quant_batch_groups")   # coarse grouping stood down
    assert info.get("fused_legs") == 3          # exact fused group took it
    # values == exact per-request scans
    for i, q in enumerate(qs):
        exp = _exact_ids(embeddings, q, "cosine", 5)
        got_i = [r["vec_id"] for r in got if r["request_idx"] == i]
        assert got_i == exp, i


def test_quant_crossover_batch_composed_falls_back(embeddings, spark):
    """The composed (quant x IVF) batch grouping honours the same
    crossover: below it, no quant_ivf_batch_groups form."""
    from qdrant_spark.operators.ann import build_ivf
    from qdrant_spark.operators.quantize import compose_quant_ivf
    from qdrant_spark import query as QM
    from qdrant_spark.query import query_batch

    h = build_quant(embeddings, {"scalar": {}}, vec_col="embedding",
                    id_col="vec_id")  # default threshold
    ivf = build_ivf(embeddings, n_clusters=4, vec_col="embedding",
                    id_col="vec_id", seed=1)
    qih = compose_quant_ivf(h, ivf, nprobe=4)
    rows = embeddings.limit(2).collect()
    qs = [list(r["embedding"]) for r in rows]
    reqs = [{"query": {"nearest": q}, "limit": 5} for q in qs]
    seen = {}
    orig_qb = QM._fuse_batch

    def spy(planner, requests, outs):
        orig_qb(planner, requests, outs)
        seen["planner"] = planner

    QM._fuse_batch = spy
    try:
        got = query_batch(
            embeddings, reqs, id_col="vec_id", vec_col="embedding",
            indexes={"embedding": [h, qih]}).collect()
    finally:
        QM._fuse_batch = orig_qb
    assert not seen["planner"].last_plan_info.get("quant_ivf_batch_groups")
    for i, q in enumerate(qs):
        exp = _exact_ids(embeddings, q, "cosine", 5)
        assert [r["vec_id"] for r in got if r["request_idx"] == i] == exp, i


def test_quant_ivf_rescore_prunes_to_probed_clusters(embeddings, spark,
                                                     tmp_path):
    """When the composed handle carries the IVF's cluster-partitioned
    float layout (compose_quant_ivf wires ivf.assigned through), the
    exact rescore reads ONLY the probed clusters' files instead of
    decoding the whole flat table (r13 decode-bound finding, the dense
    twin of the multivector invlist): results equal the flat-rescore
    plan bit-for-bit, and the rescore source carries the probed-cluster
    PartitionFilters when persisted."""
    from dataclasses import replace

    from qdrant_spark.operators.ann import build_ivf, persist_ivf
    from qdrant_spark.operators.quantize import (
        compose_quant_ivf, persist_quant_ivf, quant_ivf_search,
    )

    h = build_quant(embeddings, {"scalar": {"full_scan_threshold": 0}},
                    vec_col="embedding", id_col="vec_id")
    ivf = persist_ivf(
        build_ivf(embeddings, n_clusters=4, vec_col="embedding",
                  id_col="vec_id", seed=1),
        str(tmp_path / "ivf"))
    qih = persist_quant_ivf(compose_quant_ivf(h, ivf, nprobe=4),
                            str(tmp_path / "qivf"))
    assert qih.clustered_full is not None
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    for npb in (2, 4):
        pruned = [(r["vec_id"], round(r["score"], 9))
                  for r in quant_ivf_search(qih, q, k=5, nprobe=npb,
                                            oversampling=8.0).collect()]
        flat = [(r["vec_id"], round(r["score"], 9))
                for r in quant_ivf_search(
                    replace(qih, clustered_full=None), q, k=5,
                    nprobe=npb, oversampling=8.0).collect()]
        assert pruned == flat, npb
    out = quant_ivf_search(qih, q, k=5, nprobe=2, oversampling=8.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    hits = re.findall(r"PartitionFilters: \[[^\]]*__cluster[^\]]*IN",
                      plan)
    # both the coarse codes scan AND the float rescore scan prune
    assert len(hits) >= 2, plan[:1500]


def test_quant_crossover_batch_threshold_sits_higher(embeddings):
    """Between the single-leaf and batch defaults (n_docs faked at 3M,
    handle threshold unset): a SINGLE request routes quantized, while a
    >=2-request batch folds into the exact fused matmul group — the
    fused exact scan amortizes across requests, so its crossover sits
    higher (r12 measurements: quant batch ~flat 4.1-4.2s from 512k to
    2M while the exact fused matmul grew 0.81->1.20s)."""
    from qdrant_spark import query as QM
    from qdrant_spark.query import QueryPlanner, query_batch

    h = build_quant(embeddings, {"scalar": {}}, vec_col="embedding",
                    id_col="vec_id")
    h.n_docs = 3_000_000  # single default (2M) <= this < batch default (8M)
    q = list(embeddings.limit(1).collect()[0]["embedding"])

    pl = QueryPlanner(embeddings, id_col="vec_id",
                      default_vec_col="embedding",
                      indexes={"embedding": [h]})
    pl.plan({"query": {"nearest": q}, "limit": 10}).collect()
    assert pl.last_plan_info.get("quant_leaves") == 1  # single: quantized

    rows = embeddings.limit(2).collect()
    reqs = [{"query": {"nearest": list(r["embedding"])}, "limit": 5}
            for r in rows]
    seen = {}
    orig = QM._fuse_batch

    def spy(planner, requests, outs):
        orig(planner, requests, outs)
        seen["planner"] = planner

    QM._fuse_batch = spy
    try:
        got = query_batch(embeddings, reqs, id_col="vec_id",
                          vec_col="embedding", fuse_min_bytes=0,
                          indexes={"embedding": [h]}).collect()
    finally:
        QM._fuse_batch = orig
    info = seen["planner"].last_plan_info
    assert not info.get("quant_batch_groups")
    assert info.get("fused_legs") == 2  # batch: exact fused matmul group
    for i, r in enumerate(rows):
        exp = _exact_ids(embeddings, list(r["embedding"]), "cosine", 5)
        assert [x["vec_id"] for x in got if x["request_idx"] == i] == exp


@pytest.mark.parametrize("kind", ["scalar", "product", "binary", "turbo"])
def test_query_dim_mismatch_raises(request, kind):
    """A query one dimension short or long of the 64-dim index is
    rejected driver-side, while the plan is built, with the same message
    for every kind — not silently truncated (scalar) or failed inside a
    NumPy reshape or broadcast (product, binary)."""
    fixture, search = {"scalar": ("sq", sq_search),
                       "product": ("pq", pq_search),
                       "binary": ("bq", bq_search),
                       "turbo": ("tq", tq_search)}[kind]
    idx = request.getfixturevalue(fixture)
    for dim in (63, 65):
        with pytest.raises(ValueError, match=f"query dim {dim} != index dim 64"):
            search(idx, [0.1] * dim, k=5, rescore=False)
