"""End-to-end conformance tests for the qdrant-client-compatible facade.

Modeled on the reference's REST black-box suite (tests/openapi/*): the
canonical small collection is built through the PUBLIC client surface
(create_collection + upsert with PointStruct dicts), then every API family
is exercised against hand-computed or NumPy oracles.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from qdrant_spark.catalog import StrictModeError
from qdrant_spark.client import QdrantSparkClient

VECS = {
    1: [0.05, 0.61, 0.76, 0.74],
    2: [0.19, 0.81, 0.75, 0.11],
    3: [0.36, 0.55, 0.47, 0.94],
    4: [0.18, 0.01, 0.85, 0.80],
    5: [0.24, 0.18, 0.22, 0.44],
    6: [0.35, 0.08, 0.11, 0.44],
    7: [0.25, 0.98, 0.14, 0.43],
    8: [0.79, 0.53, 0.72, 0.15],
}
PAYLOADS = {
    1: {"city": ["Berlin"], "price": 10.0},
    2: {"city": ["Berlin", "London"], "price": 11.0},
    3: {"city": ["Berlin", "Moscow"], "price": 9.5},
    4: {"city": ["London", "Moscow"], "price": 9.0},
    5: {"count": [0]},
    6: {},
    7: {},
    8: {"city": [], "price": None},
}
SPARSE = {
    9: {"indices": [66, 12], "values": [0.5, 0.5]},
    10: {"indices": [1, 2, 3], "values": [0.1, 0.2, 0.3]},
}


def _cosine(a, b):
    num = sum(x * y for x, y in zip(a, b))
    return num / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))


def _exact_knn(q, k, ids=None):
    cands = [(i, _cosine(q, v)) for i, v in VECS.items()
             if ids is None or i in ids]
    cands.sort(key=lambda t: (-t[1], t[0]))
    return cands[:k]


@pytest.fixture(scope="module")
def client(spark):
    c = QdrantSparkClient(spark)
    c.create_collection(
        "test_collection",
        vectors_config={"size": 4, "distance": "Cosine"},
        sparse_vectors_config={"text": {}},
    )
    points = [
        {"id": i, "vector": VECS[i],
         "payload": {k: v for k, v in PAYLOADS[i].items() if v is not None}}
        for i in VECS
    ] + [{"id": i, "vector": {"text": SPARSE[i]}} for i in SPARSE]
    c.upsert("test_collection", points)
    return c


class TestCollections:
    def test_exists_and_info(self, client):
        assert client.collection_exists("test_collection")
        assert not client.collection_exists("nope")
        info = client.get_collection("test_collection")
        assert info["points_count"] == 10
        assert info["config"]["params"]["vectors"][""]["size"] == 4
        assert "text" in info["config"]["params"]["sparse_vectors"]

    def test_duplicate_create_raises(self, client):
        with pytest.raises(ValueError):
            client.create_collection("test_collection",
                                     vectors_config={"size": 4,
                                                     "distance": "Cosine"})

    def test_create_delete_roundtrip(self, client):
        client.create_collection("tmp", vectors_config={"size": 2,
                                                        "distance": "Dot"})
        assert client.delete_collection("tmp")
        assert not client.collection_exists("tmp")

    def test_undeclared_vector_name_rejected(self, client):
        with pytest.raises(ValueError, match="undeclared vector name"):
            client.upsert("test_collection",
                          [{"id": 99, "vector": {"other": [1.0] * 4}}])

    def test_wrong_dim_rejected(self, client):
        with pytest.raises(ValueError, match="dim"):
            client.upsert("test_collection", [{"id": 99, "vector": [1.0, 2.0]}])


class TestRetrieveScrollCount:
    def test_retrieve(self, client):
        recs = client.retrieve("test_collection", [2, 5, 42],
                               with_vectors=True)
        assert [r.id for r in recs] == [2, 5]
        r2 = recs[0]
        assert r2.payload == {"city": ["Berlin", "London"], "price": 11.0}
        assert r2.vector == pytest.approx(VECS[2], abs=1e-6)
        r5 = recs[1]
        assert r5.payload == {"count": [0]}

    def test_retrieve_payload_selectors(self, client):
        (rec,) = client.retrieve("test_collection", [2],
                                 with_payload={"include": ["city"]})
        assert rec.payload == {"city": ["Berlin", "London"]}
        (rec,) = client.retrieve("test_collection", [2],
                                 with_payload={"exclude": ["city"]})
        assert rec.payload == {"price": 11.0}
        (rec,) = client.retrieve("test_collection", [2], with_payload=False)
        assert rec.payload is None

    def test_retrieve_sparse_vector(self, client):
        (rec,) = client.retrieve("test_collection", [9], with_vectors=True)
        assert rec.vector == {"text": {"indices": [12, 66],
                                       "values": [0.5, 0.5]}}

    def test_scroll_keyset(self, client):
        page1, nxt = client.scroll("test_collection", limit=4)
        assert [r.id for r in page1] == [1, 2, 3, 4]
        assert nxt == 5
        page2, nxt2 = client.scroll("test_collection", limit=4, offset=nxt)
        assert [r.id for r in page2] == [5, 6, 7, 8]
        page3, nxt3 = client.scroll("test_collection", limit=4, offset=nxt2)
        assert [r.id for r in page3] == [9, 10]
        assert nxt3 is None

    def test_scroll_filtered(self, client):
        recs, _ = client.scroll(
            "test_collection",
            scroll_filter={"must": [{"key": "city",
                                     "match": {"value": "Berlin"}}]},
            limit=10)
        assert [r.id for r in recs] == [1, 2, 3]

    def test_scroll_order_by(self, client):
        recs, _ = client.scroll("test_collection", limit=10,
                                order_by={"key": "price",
                                          "direction": "desc"})
        assert [r.id for r in recs][:4] == [2, 1, 3, 4]

    def test_count(self, client):
        assert client.count("test_collection").count == 10
        res = client.count(
            "test_collection",
            count_filter={"must": [{"key": "city",
                                    "match": {"value": "London"}}]})
        assert res.count == 2

    def test_facet(self, client):
        hits = client.facet("test_collection", "city").hits
        assert [(h.value, h.count) for h in hits] == [
            ("Berlin", 3), ("London", 2), ("Moscow", 2)]


class TestQueryPoints:
    def test_bare_vector_matches_numpy(self, client):
        q = [0.2, 0.1, 0.9, 0.7]
        res = client.query_points("test_collection", query=q, limit=3)
        exp = _exact_knn(q, 3)
        assert [p.id for p in res.points] == [i for i, _ in exp]
        for p, (_, s) in zip(res.points, exp):
            assert p.score == pytest.approx(s, abs=1e-5)
        assert res.points[0].payload is not None

    def test_query_by_point_id(self, client):
        res = client.query_points("test_collection", query=1, limit=3)
        # nearest to point 1's vector; the referenced point itself is
        # excluded (exclude_referenced_ids, collection_query.rs:523)
        exp = [i for i, _ in _exact_knn(VECS[1], 4) if i != 1][:3]
        assert [p.id for p in res.points] == exp
        assert 1 not in [p.id for p in res.points]

    def test_filtered_query(self, client):
        q = [0.2, 0.1, 0.9, 0.7]
        res = client.query_points(
            "test_collection", query=q,
            query_filter={"must": [{"key": "city",
                                    "match": {"value": "London"}}]},
            limit=10)
        exp = _exact_knn(q, 10, ids={2, 4})
        assert [p.id for p in res.points] == [i for i, _ in exp]

    def test_score_threshold_and_offset(self, client):
        q = [0.2, 0.1, 0.9, 0.7]
        full = _exact_knn(q, 8)
        thr = (full[2][1] + full[3][1]) / 2
        res = client.query_points("test_collection", query=q, limit=10,
                                  score_threshold=thr)
        assert [p.id for p in res.points] == [i for i, _ in full[:3]]
        res = client.query_points("test_collection", query=q, limit=2,
                                  offset=2)
        assert [p.id for p in res.points] == [i for i, _ in full[2:4]]

    def test_sparse_query(self, client):
        res = client.query_points(
            "test_collection",
            query={"indices": [12, 66, 3], "values": [1.0, 1.0, 1.0]},
            using="text", limit=10)
        scores = {p.id: p.score for p in res.points}
        assert scores[9] == pytest.approx(1.0, abs=1e-6)
        assert scores[10] == pytest.approx(0.3, abs=1e-6)
        assert list(scores)[0] == 9

    def test_sparse_query_routes_through_inverted_index(self, spark):
        """ensure_vector_index on a declared sparse vector builds the
        inverted index and the planner routes sparse `nearest` legs
        through it (the reference always searches sparse through its
        inverted index, search_context.rs) — results identical to the
        scan path, filters respected, mutations invalidate."""
        c = QdrantSparkClient(spark)
        c.create_collection("spidx", vectors_config={"size": 2,
                                                     "distance": "Dot"},
                            sparse_vectors_config={"text": {}})
        c.upsert("spidx", [
            {"id": i, "vector": {"": [float(i), 0.0],
                                 "text": {"indices": [i, 100],
                                          "values": [1.0, 0.5 * i]}},
             "payload": {"tag": "a" if i % 2 else "b"}}
            for i in range(1, 7)
        ])
        q = {"indices": [100, 3], "values": [2.0, 1.0]}
        before = c.query_points("spidx", query=q, using="text", limit=6)
        assert c.ensure_vector_index("spidx", using="text",
                                     indexing_threshold=1) == "built"
        assert c.ensure_vector_index("spidx", using="text",
                                     indexing_threshold=1) == "exists"
        after = c.query_points("spidx", query=q, using="text", limit=6)
        assert [(p.id, p.score) for p in after.points] == \
            [(p.id, p.score) for p in before.points]
        # filtered search through the index
        flt = {"must": [{"key": "tag", "match": {"value": "a"}}]}
        f_after = c.query_points("spidx", query=q, using="text",
                                 query_filter=flt, limit=6)
        assert [p.id for p in f_after.points] == [5, 3, 1]
        # a mutation invalidates; the fallback scan path stays correct
        c.upsert("spidx", [{"id": 9, "vector": {
            "": [9.0, 0.0], "text": {"indices": [100], "values": [9.0]}}}])
        assert not c._coll("spidx").sparse_idx
        post = c.query_points("spidx", query=q, using="text", limit=1)
        assert post.points[0].id == 9

    def test_recommend(self, client):
        res = client.recommend("test_collection", positive=[1, 2], limit=3)
        avg = [sum(c) / 2 for c in zip(VECS[1], VECS[2])]
        exp = [i for i, _ in _exact_knn(avg, 5) if i not in (1, 2)][:3]
        assert [p.id for p in res] == exp

    def test_prefetch_rrf_fusion(self, client):
        q1 = VECS[1]
        q2 = VECS[4]
        res = client.query_points(
            "test_collection",
            prefetch=[{"query": q1, "limit": 5},
                      {"query": q2, "limit": 5}],
            query={"fusion": "rrf"}, limit=5)
        ids = [p.id for p in res.points]
        assert 1 in ids and 4 in ids  # each leg's own top hit survives rrf

    def test_prefetch_rrf_fusion_euclid(self, spark):
        """RRF on a Euclid collection ranks each prefetch leg nearest
        first: ids and scores equal a NumPy RRF over the legs' exact
        nearest-first lists."""
        rng = np.random.default_rng(3)
        vecs = {i: rng.normal(size=2).tolist() for i in range(1, 21)}
        c = QdrantSparkClient(spark)
        c.create_collection("rrf_eu", vectors_config={"size": 2,
                                                      "distance": "Euclid"})
        c.upsert("rrf_eu", [{"id": i, "vector": v} for i, v in vecs.items()])
        legs = [([0.0, 0.0], 6), ([1.0, 1.0], 6)]
        acc: dict = {}
        for q, k in legs:
            near = sorted(vecs, key=lambda i: (
                float(np.linalg.norm(np.subtract(vecs[i], q))), i))[:k]
            for pos, i in enumerate(near):
                acc[i] = acc.get(i, 0.0) + 1.0 / (pos + 2)  # k = 2
        want = sorted(acc.items(), key=lambda t: (-t[1], t[0]))[:4]
        res = c.query_points(
            "rrf_eu", prefetch=[{"query": q, "limit": k} for q, k in legs],
            query={"fusion": "rrf"}, limit=4, with_payload=False)
        assert [p.id for p in res.points] == [i for i, _ in want]
        for p, (_, s) in zip(res.points, want):
            assert p.score == pytest.approx(s)

    def test_order_by_query(self, client):
        res = client.query_points(
            "test_collection",
            query={"order_by": {"key": "price", "direction": "asc"}},
            limit=3)
        assert [p.id for p in res.points] == [4, 3, 1]

    def test_groups(self, client):
        q = [0.2, 0.1, 0.9, 0.7]
        res = client.query_points_groups(
            "test_collection", group_by="city", query=q, limit=2,
            group_size=2)
        assert len(res.groups) == 2
        for g in res.groups:
            assert 1 <= len(g.hits) <= 2
            for h in g.hits:
                assert g.id in (h.payload or {}).get("city", [])

    def test_batch(self, client):
        q = [0.2, 0.1, 0.9, 0.7]
        reqs = [
            {"query": q, "limit": 2},
            {"query": q, "limit": 3,
             "filter": {"must": [{"key": "city",
                                  "match": {"value": "Berlin"}}]}},
        ]
        out = client.query_batch_points("test_collection", reqs)
        assert [p.id for p in out[0].points] == [i for i, _ in _exact_knn(q, 2)]
        assert [p.id for p in out[1].points] == \
            [i for i, _ in _exact_knn(q, 3, ids={1, 2, 3})]

    def test_matrix_pairs(self, client):
        pairs = client.search_matrix_pairs("test_collection", sample=6,
                                           limit=2)
        assert pairs and all(p["a"] != p["b"] for p in pairs)
        offs = client.search_matrix_offsets("test_collection", sample=6,
                                            limit=2)
        assert len(offs["scores"]) == len(offs["offsets_row"]) \
            == len(offs["offsets_col"])


class TestMutations:
    @pytest.fixture()
    def mut(self, spark):
        c = QdrantSparkClient(spark)
        c.create_collection("mut", vectors_config={"size": 4,
                                                   "distance": "Cosine"})
        c.upsert("mut", [
            {"id": i, "vector": VECS[i],
             "payload": {k: v for k, v in PAYLOADS[i].items()
                         if v is not None}}
            for i in VECS])
        return c

    def test_upsert_replaces(self, mut):
        mut.upsert("mut", [{"id": 1, "vector": [1.0, 0.0, 0.0, 0.0],
                            "payload": {"city": ["Paris"]}}])
        (rec,) = mut.retrieve("mut", [1], with_vectors=True)
        assert rec.vector == pytest.approx([1.0, 0.0, 0.0, 0.0])
        assert rec.payload == {"city": ["Paris"]}  # full replace, price gone
        assert mut.count("mut").count == 8

    def test_payload_schema_evolution(self, mut):
        mut.upsert("mut", [{"id": 11, "vector": VECS[1],
                            "payload": {"brand_new": "yes"}}])
        (rec,) = mut.retrieve("mut", [11])
        assert rec.payload == {"brand_new": "yes"}
        (r1,) = mut.retrieve("mut", [1])
        assert "brand_new" not in (r1.payload or {})

    def test_set_payload(self, mut):
        mut.set_payload("mut", {"flagged": True}, points=[1, 2])
        recs = mut.retrieve("mut", [1, 2, 3])
        assert recs[0].payload["flagged"] is True
        assert recs[1].payload["flagged"] is True
        assert "flagged" not in recs[2].payload

    def test_set_payload_by_filter(self, mut):
        mut.set_payload("mut", {"zone": "eu"},
                        filter={"must": [{"key": "city",
                                          "match": {"value": "Berlin"}}]})
        assert mut.count("mut", count_filter={"must": [
            {"key": "zone", "match": {"value": "eu"}}]}).count == 3

    def test_overwrite_payload(self, mut):
        mut.overwrite_payload("mut", {"city": ["Rome"]}, points=[2])
        (rec,) = mut.retrieve("mut", [2])
        assert rec.payload == {"city": ["Rome"]}  # price cleared

    def test_delete_and_clear_payload(self, mut):
        mut.delete_payload("mut", ["price"], points=[1])
        (rec,) = mut.retrieve("mut", [1])
        assert rec.payload == {"city": ["Berlin"]}
        mut.clear_payload("mut", [2])
        (rec,) = mut.retrieve("mut", [2])
        assert rec.payload == {}

    def test_delete_points(self, mut):
        mut.delete("mut", [7, 8])
        assert mut.count("mut").count == 6
        mut.delete("mut", {"filter": {"must": [
            {"key": "city", "match": {"value": "Moscow"}}]}})
        assert mut.count("mut").count == 4

    def test_update_and_delete_vectors(self, mut):
        mut.update_vectors("mut", [{"id": 5,
                                    "vector": [0.0, 1.0, 0.0, 0.0]}])
        (rec,) = mut.retrieve("mut", [5], with_vectors=True)
        assert rec.vector == pytest.approx([0.0, 1.0, 0.0, 0.0])
        (r6,) = mut.retrieve("mut", [6], with_vectors=True)
        assert r6.vector == pytest.approx(VECS[6], abs=1e-6)
        mut.delete_vectors("mut", [""], [5])
        (rec,) = mut.retrieve("mut", [5], with_vectors=True)
        assert rec.vector is None

    def test_versioned_stale_skip(self, mut):
        """Later upserts (higher internal version) win; the replaced row's
        payload columns null out (full-point replace, as the reference)."""
        mut.upsert("mut", [{"id": 3, "vector": VECS[3],
                            "payload": {"gen": 2}}])
        mut.upsert("mut", [{"id": 3, "vector": VECS[3],
                            "payload": {"gen": 3}}])
        (rec,) = mut.retrieve("mut", [3])
        assert rec.payload["gen"] == 3


class TestBatchAndLegacy:
    def test_batch_update_points_in_order(self, spark):
        c = QdrantSparkClient(spark)
        c.create_collection("bup", vectors_config={"size": 4,
                                                   "distance": "Cosine"})
        results = c.batch_update_points("bup", [
            {"upsert": {"points": [
                {"id": i, "vector": VECS[i], "payload": {"n": i}}
                for i in (1, 2, 3, 4)]}},
            {"set_payload": {"payload": {"flag": True}, "points": [1, 2]}},
            {"delete": {"points": [4]}},
            {"delete_payload": {"keys": ["n"], "points": [3]}},
        ])
        assert len(results) == 4
        assert c.count("bup").count == 3
        recs = {r.id: r for r in c.retrieve("bup", [1, 2, 3])}
        assert recs[1].payload == {"n": 1, "flag": True}
        assert recs[3].payload == {}

    def test_legacy_search_batch_and_groups(self, client):
        q = [0.2, 0.1, 0.9, 0.7]
        outs = client.search_batch("test_collection", [
            {"vector": q, "limit": 2},
            {"vector": q, "limit": 1,
             "filter": {"must": [{"key": "city",
                                  "match": {"value": "Berlin"}}]}},
        ])
        assert [p.id for p in outs[0]] == [i for i, _ in _exact_knn(q, 2)]
        assert [p.id for p in outs[1]] == \
            [i for i, _ in _exact_knn(q, 1, ids={1, 2, 3})]
        g = client.search_groups("test_collection", q, group_by="city",
                                 limit=2, group_size=1)
        assert len(g.groups) == 2

    def test_get_point_and_recommend_batch(self, client):
        rec = client.get_point("test_collection", 2)
        assert rec.payload["price"] == 11.0 and rec.vector is not None
        with pytest.raises(KeyError):
            client.get_point("test_collection", 424242)
        outs = client.recommend_batch("test_collection", [
            {"positive": [VECS[1]], "limit": 2},
            {"positive": [VECS[4]], "limit": 2,
             "filter": {"must": [{"key": "city",
                                  "match": {"value": "London"}}]}},
        ])
        assert [p.id for p in outs[0]] == [i for i, _ in _exact_knn(VECS[1], 2)]
        assert [p.id for p in outs[1]] == \
            [i for i, _ in _exact_knn(VECS[4], 2, ids={2, 4})]
        g = client.recommend_groups("test_collection", group_by="city",
                                    positive=[VECS[1]], limit=2,
                                    group_size=1)
        assert len(g.groups) == 2
        d = client.discover_batch("test_collection", [
            {"target": VECS[1],
             "context": [{"positive": VECS[2], "negative": VECS[4]}],
             "limit": 2}])
        assert len(d[0]) == 2

    def test_legacy_discover_and_context(self, client):
        hits = client.discover(
            "test_collection", target=VECS[1],
            context=[{"positive": 2, "negative": 4}], limit=3)
        assert len(hits) == 3
        # referenced ids 2 and 4 are excluded from results
        assert not {2, 4} & {h.id for h in hits}
        ctx = client.discover(
            "test_collection",
            context=[{"positive": VECS[1], "negative": VECS[4]}], limit=3)
        assert len(ctx) == 3


class TestAliasesIndexesStrict:
    def test_aliases(self, spark):
        c = QdrantSparkClient(spark)
        c.create_collection("base", vectors_config={"size": 4,
                                                    "distance": "Cosine"})
        c.upsert("base", [{"id": 1, "vector": [1.0, 0.0, 0.0, 0.0]}])
        c.update_collection_aliases([
            {"create_alias": {"collection_name": "base",
                              "alias_name": "prod"}}])
        assert c.count("prod").count == 1
        res = c.query_points("prod", query=[1.0, 0.0, 0.0, 0.0], limit=1)
        assert res.points[0].id == 1
        c.update_collection_aliases([
            {"rename_alias": {"old_alias_name": "prod",
                              "new_alias_name": "live"}}])
        assert c.count("live").count == 1
        c.update_collection_aliases([
            {"delete_alias": {"alias_name": "live"}}])
        with pytest.raises(KeyError):
            c.count("live")

    def test_strict_mode_limit_and_unindexed(self, spark):
        c = QdrantSparkClient(spark)
        c.create_collection(
            "strictc", vectors_config={"size": 4, "distance": "Cosine"},
            strict_mode_config={"enabled": True, "max_query_limit": 5,
                                "unindexed_filtering_retrieve": False,
                                "unindexed_filtering_update": False})
        c.upsert("strictc", [{"id": 1, "vector": [1.0, 0.0, 0.0, 0.0],
                              "payload": {"lang": "en"}}])
        with pytest.raises(StrictModeError):
            c.query_points("strictc", query=[1.0, 0.0, 0.0, 0.0], limit=50)
        flt = {"must": [{"key": "lang", "match": {"value": "en"}}]}
        with pytest.raises(StrictModeError):
            c.query_points("strictc", query=[1.0, 0.0, 0.0, 0.0],
                           query_filter=flt, limit=5)
        # update-side unindexed filtering is checked too
        with pytest.raises(StrictModeError):
            c.set_payload("strictc", {"seen": True},
                          filter={"must": [{"key": "other",
                                            "match": {"value": "x"}}]})
        c.create_payload_index("strictc", "lang", "keyword")
        res = c.query_points("strictc", query=[1.0, 0.0, 0.0, 0.0],
                             query_filter=flt, limit=5)
        assert [p.id for p in res.points] == [1]

    def test_update_collection_strict_mode(self, spark):
        c = QdrantSparkClient(spark)
        c.create_collection("upd", vectors_config={"size": 4,
                                                   "distance": "Cosine"})
        c.upsert("upd", [{"id": 1, "vector": VECS[1]}])
        assert c.query_points("upd", query=VECS[1], limit=50).points
        c.update_collection("upd", strict_mode_config={"enabled": True,
                                                       "max_query_limit": 5})
        with pytest.raises(StrictModeError):
            c.query_points("upd", query=VECS[1], limit=50)
        c.update_collection("upd", strict_mode_config={"enabled": False})
        assert c.query_points("upd", query=VECS[1], limit=50).points

    def test_count_estimate_through_client(self, client):
        approx = client.count("test_collection", exact=False).count
        assert approx == 10  # small corpus: the sample IS the corpus

    def test_text_index_params_reach_full_text_filters(self, spark):
        """A declared text index with stemming changes match.text semantics
        — the StopwordsInterface/TextIndexParams analogue wired end-to-end
        through the client (index.rs:260-360)."""
        c = QdrantSparkClient(spark)
        c.create_collection("fts", vectors_config={"size": 2,
                                                   "distance": "Dot"})
        c.upsert("fts", [
            {"id": 1, "vector": [1.0, 0.0],
             "payload": {"body": "the running foxes jumped"}},
            {"id": 2, "vector": [0.0, 1.0],
             "payload": {"body": "a sleeping cat"}},
        ])
        flt = {"must": [{"key": "body", "match": {"text": "run fox"}}]}
        # without a text index: plain word tokens, no stemming -> no match
        assert c.count("fts", count_filter=flt).count == 0
        c.create_payload_index(
            "fts", "body",
            {"type": "text", "tokenizer": "word", "stemmer": "english",
             "stopwords": "english"})
        assert c.count("fts", count_filter=flt).count == 1
        res = c.query_points("fts", query=[1.0, 0.0], query_filter=flt,
                             limit=10)
        assert [p.id for p in res.points] == [1]
        (res,) = c.query_batch_points(
            "fts", [{"query": [1.0, 0.0], "filter": flt, "limit": 10}])
        assert [p.id for p in res.points] == [1]
        # facet under the same text filter honors the declared params too
        # (r8 ADVICE: facet() must pre-apply text_params like count())
        c.set_payload("fts", payload={"lang": "en"}, points=[1, 2])
        hits = c.facet("fts", "lang", facet_filter=flt).hits
        assert [(h.value, h.count) for h in hits] == [("en", 1)]

    def test_lookup_from_other_collection(self, spark):
        """Recommend by ids resolved through ANOTHER collection's named
        vector (LookupLocation, collection_query.rs:147-152); ids resolved
        via lookup_from are NOT excluded from results."""
        c = QdrantSparkClient(spark)
        c.create_collection("seeds", vectors_config={
            "emb": {"size": 4, "distance": "Cosine"}})
        c.upsert("seeds", [{"id": 100 + i, "vector": {"emb": VECS[i]}}
                           for i in (1, 2)])
        c.create_collection("corpus2", vectors_config={"size": 4,
                                                       "distance": "Cosine"})
        c.upsert("corpus2", [{"id": i, "vector": VECS[i]} for i in VECS])
        res = c.query_points(
            "corpus2",
            query={"recommend": {"positive": [101, 102],
                                 "strategy": "average_vector"}},
            lookup_from={"collection": "seeds", "vector": "emb"},
            limit=3, with_payload=False)
        avg = [sum(x) / 2 for x in zip(VECS[1], VECS[2])]
        exp = [i for i, _ in _exact_knn(avg, 3)]
        assert [p.id for p in res.points] == exp

    def test_named_vectors_two_distances(self, spark):
        c = QdrantSparkClient(spark)
        c.create_collection("named", vectors_config={
            "img": {"size": 2, "distance": "Euclid"},
            "txt": {"size": 3, "distance": "Dot"},
        })
        c.upsert("named", [
            {"id": 1, "vector": {"img": [0.0, 0.0], "txt": [1.0, 0.0, 0.0]}},
            {"id": 2, "vector": {"img": [3.0, 4.0], "txt": [0.0, 2.0, 0.0]}},
        ])
        res = c.query_points("named", query=[0.0, 0.1], using="img", limit=2)
        assert [p.id for p in res.points] == [1, 2]
        assert res.points[1].score == pytest.approx(
            math.sqrt(3.0**2 + 3.9**2), abs=1e-4)
        res = c.query_points("named", query=[0.0, 5.0, 0.0], using="txt",
                             limit=2)
        assert [p.id for p in res.points] == [2, 1]
        assert res.points[0].score == pytest.approx(10.0, abs=1e-5)

    def test_batch_honors_per_request_distance(self, spark):
        """r8 ADVICE repro: query_batch_points / search_batch must rank
        each request by ITS `using` vector's declared distance — a Euclid
        named vector must not be cosine-ranked just because the batch
        planner was built with the collection-default metric."""
        c = QdrantSparkClient(spark)
        c.create_collection("named_b", vectors_config={
            "eu": {"size": 2, "distance": "Euclid"},
            "dp": {"size": 2, "distance": "Dot"},
        })
        c.upsert("named_b", [
            {"id": 1, "vector": {"eu": [0.0, 1.0], "dp": [0.0, 1.0]}},
            {"id": 2, "vector": {"eu": [0.0, 2.0], "dp": [0.0, 2.0]}},
            {"id": 3, "vector": {"eu": [0.0, 9.0], "dp": [0.0, 9.0]}},
        ])
        q = [0.0, 0.1]
        single_eu = c.query_points("named_b", query=q, using="eu", limit=3)
        single_dp = c.query_points("named_b", query=q, using="dp", limit=3)
        assert [p.id for p in single_eu.points] == [1, 2, 3]  # nearest first
        assert [p.id for p in single_dp.points] == [3, 2, 1]  # largest dot
        batch = c.query_batch_points("named_b", [
            {"query": q, "using": "eu", "limit": 3},
            {"query": q, "using": "dp", "limit": 3},
        ])
        assert [p.id for p in batch[0].points] == [1, 2, 3]
        assert [p.id for p in batch[1].points] == [3, 2, 1]
        for got, want in zip(batch, (single_eu, single_dp)):
            assert [(p.id, pytest.approx(p.score)) for p in got.points] == \
                [(p.id, p.score) for p in want.points]
        # legacy search_batch named forms route `using` too
        legacy = c.search_batch("named_b", [
            {"vector": ("eu", q), "limit": 3},
            {"vector": {"name": "dp", "vector": q}, "limit": 3},
        ])
        assert [p.id for p in legacy[0]] == [1, 2, 3]
        assert [p.id for p in legacy[1]] == [3, 2, 1]
        # legacy recommend_batch propagates using
        rec = c.recommend_batch("named_b", [
            {"positive": [1], "using": "eu", "limit": 2},
            {"positive": [1], "using": "dp", "limit": 2},
        ])
        assert [p.id for p in rec[0]] == [2, 3]  # nearest-to-[0,1] first
        assert [p.id for p in rec[1]] == [3, 2]


class TestAdvancedQueries:
    def test_multivector_maxsim(self, spark):
        """Multivector (ColBERT-style) collection queried through the
        facade; oracle = hand-computed MaxSim (sum over query rows of the
        max dot against the doc rows)."""
        c = QdrantSparkClient(spark)
        c.create_collection("mv", vectors_config={
            "late": {"size": 3, "distance": "Dot",
                     "multivector_config": {"comparator": "max_sim"}}})
        docs = {
            1: [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]],
            2: [[0.0, 0.0, 1.0], [0.5, 0.5, 0.0]],
            3: [[0.2, 0.2, 0.2]],
        }
        c.upsert("mv", [{"id": i, "vector": {"late": m}}
                        for i, m in docs.items()])
        q = [[1.0, 0.0, 0.0], [0.0, 0.0, 1.0]]

        def maxsim(m):
            return sum(max(sum(a * b for a, b in zip(qr, dr)) for dr in m)
                       for qr in q)

        res = c.query_points("mv", query=q, using="late", limit=3,
                             with_payload=False)
        exp = sorted(docs, key=lambda i: (-maxsim(docs[i]), i))
        assert [p.id for p in res.points] == exp
        for p in res.points:
            assert p.score == pytest.approx(maxsim(docs[p.id]), abs=1e-6)

    def test_formula_rescore_through_client(self, client):
        q = [0.2, 0.1, 0.9, 0.7]
        res = client.query_points(
            "test_collection",
            prefetch=[{"query": q, "limit": 8}],
            query={"formula": {"sum": ["$score", "price"]},
                   "defaults": {"price": 0.0}},
            limit=5, with_payload=False)
        base = _exact_knn(q, 8)
        prices = {1: 10.0, 2: 11.0, 3: 9.5, 4: 9.0}
        exp = sorted(((i, s + prices.get(i, 0.0)) for i, s in base),
                     key=lambda t: (-t[1], t[0]))[:5]
        assert [p.id for p in res.points] == [i for i, _ in exp]
        for p, (_, s) in zip(res.points, exp):
            assert p.score == pytest.approx(s, abs=1e-5)

    def test_mmr_through_client(self, client):
        q = [0.2, 0.1, 0.9, 0.7]
        res = client.query_points(
            "test_collection",
            prefetch=[{"query": q, "limit": 8}],
            query={"mmr": {"diversity": 0.5}},
            limit=4, with_payload=False)
        assert len(res.points) == 4
        # first MMR pick is always the top relevance hit
        assert res.points[0].id == _exact_knn(q, 1)[0][0]

    def test_mmr_and_sample_hydrate_in_one_job(self, spark, client,
                                               monkeypatch):
        """Plan-only-order roots (MMR pick order, sample hash order) carry
        an explicit rank so hydration joins before the collect — ONE
        DataFrame action per query_points, not a collect + id-lookup pair
        (r8 VERDICT item 5). Result order and payloads unchanged.
        (Counting collects, not Spark jobs: AQE legitimately splits one
        action into several jobs.)"""
        _DF = type(spark.range(1))  # the concrete (classic) DataFrame

        q = [0.2, 0.1, 0.9, 0.7]
        calls = []
        orig = _DF.collect
        monkeypatch.setattr(_DF, "collect",
                            lambda df: calls.append(1) or orig(df))

        def run_counted(group, fn):
            calls.clear()
            return fn(), len(calls)

        mmr_req = dict(collection_name="test_collection",
                       prefetch=[{"query": q, "limit": 8}],
                       query={"mmr": {"diversity": 0.5}}, limit=4)
        res, jobs = run_counted(
            "mmr_1job", lambda: client.query_points(**mmr_req))
        assert jobs == 1
        assert res.points[0].id == _exact_knn(q, 1)[0][0]
        assert res.points[0].payload  # hydrated
        bare, jobs_bare = run_counted(
            "mmr_1job_bare", lambda: client.query_points(
                **mmr_req, with_payload=False))
        assert jobs_bare == 1
        assert [p.id for p in bare.points] == [p.id for p in res.points]

        sample_req = dict(collection_name="test_collection",
                          query={"sample": "random"}, limit=5)
        s_res, s_jobs = run_counted(
            "sample_1job", lambda: client.query_points(**sample_req))
        assert s_jobs == 1
        # deterministic hash order: same ids in the same order on re-run
        s_res2 = client.query_points(**sample_req)
        assert [p.id for p in s_res.points] == [p.id for p in s_res2.points]

        ob_req = dict(collection_name="test_collection",
                      query={"order_by": {"key": "price",
                                          "direction": "desc"}}, limit=3)
        o_res, o_jobs = run_counted(
            "ob_1job", lambda: client.query_points(**ob_req))
        assert o_jobs == 1
        assert [p.id for p in o_res.points] == [2, 1, 3]


class TestVectorIndex:
    def test_ensure_vector_index_lifecycle(self, spark, tmp_path):
        import numpy as np

        c = QdrantSparkClient(spark, root=str(tmp_path))
        c.create_collection("ivfc", vectors_config={"size": 8,
                                                    "distance": "Cosine"})
        rng = np.random.default_rng(3)
        pts = [{"id": i, "vector": rng.normal(size=8).astype(float).tolist()}
               for i in range(300)]
        c.upsert("ivfc", pts)
        # below the default threshold: no index
        assert c.ensure_vector_index("ivfc") == "skipped"
        # explicit low threshold: build, then reload on re-ensure
        assert c.ensure_vector_index("ivfc", n_clusters=4,
                                     indexing_threshold=100) == "built"
        assert c.ensure_vector_index("ivfc", n_clusters=4,
                                     indexing_threshold=100) == "loaded"
        # with the index registered, results still match exact (the
        # dispatcher keeps the plain route below the scan crossover)
        q = pts[0]["vector"]
        with_idx = [p.id for p in
                    c.query_points("ivfc", query=q, limit=5,
                                   with_payload=False).points]
        # mutation invalidates; exact search still serves
        c.upsert("ivfc", [{"id": 999, "vector": q}])
        after = c.query_points("ivfc", query=q, limit=5,
                               with_payload=False).points
        assert after[0].id in (0, 999)
        assert with_idx[0] == 0


class TestPersistence:
    def test_root_backed_collection(self, spark, tmp_path):
        c = QdrantSparkClient(spark, root=str(tmp_path))
        c.create_collection("disk", vectors_config={"size": 4,
                                                    "distance": "Cosine"})
        c.upsert("disk", [{"id": i, "vector": VECS[i],
                           "payload": PAYLOADS[i]} for i in (1, 2, 3)])
        assert (tmp_path / "disk" / "points").exists()
        c.delete("disk", [2])
        assert c.count("disk").count == 2
        q = [0.2, 0.1, 0.9, 0.7]
        res = c.query_points("disk", query=q, limit=2)
        assert [p.id for p in res.points] == \
            [i for i, _ in _exact_knn(q, 2, ids={1, 3})]


class TestCustomSharding:
    def test_shard_lifecycle_and_pruning(self, spark, tmp_path):
        c = QdrantSparkClient(spark, root=str(tmp_path))
        c.create_collection("multi", vectors_config={"size": 4,
                                                     "distance": "Cosine"},
                            sharding_method="custom")
        with pytest.raises(ValueError, match="shard_key_selector"):
            c.upsert("multi", [{"id": 1, "vector": VECS[1]}])
        c.create_shard_key("multi", "tenant_a")
        c.create_shard_key("multi", "tenant_b")
        with pytest.raises(ValueError, match="unknown shard key"):
            c.upsert("multi", [{"id": 1, "vector": VECS[1]}],
                     shard_key_selector="tenant_c")
        c.upsert("multi", [{"id": i, "vector": VECS[i]} for i in (1, 2, 3)],
                 shard_key_selector="tenant_a")
        c.upsert("multi", [{"id": i, "vector": VECS[i]} for i in (4, 5)],
                 shard_key_selector="tenant_b")
        # shard = partition directory (selector -> directory pruning)
        assert (tmp_path / "multi" / "points"
                / "shard_key=tenant_a").exists()
        assert c.count("multi").count == 5
        assert c.count("multi", shard_key_selector="tenant_a").count == 3
        q = [0.2, 0.1, 0.9, 0.7]
        res = c.query_points("multi", query=q, limit=10,
                             shard_key_selector="tenant_b")
        assert sorted(p.id for p in res.points) == [4, 5]
        # fallback selector: missing target routes to fallback
        res = c.query_points("multi", query=q, limit=10,
                             shard_key_selector={"target": "tenant_z",
                                                 "fallback": "tenant_a"})
        assert sorted(p.id for p in res.points) == [1, 2, 3]
        # the selector compiles to directory-level partition pruning on
        # the root-backed table (the 100-TB shape: one tenant scanned,
        # not the fleet)
        col = c._coll("multi")
        routed = c._route(col, col.df, "tenant_a")
        plan = routed._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert "shard_key" in plan.split("PartitionFilters", 1)[1][:250]
        # deleting a shard key drops its points
        assert c.delete_shard_key("multi", "tenant_b")
        assert c.count("multi").count == 3

    def test_shard_selector_bypasses_full_corpus_index(self, spark):
        """A registered IVF index covers the whole corpus; a shard-scoped
        query must NOT route through it (it would leak other shards)."""
        import numpy as np

        c = QdrantSparkClient(spark)
        c.create_collection("shidx", vectors_config={"size": 4,
                                                     "distance": "Cosine"},
                            sharding_method="custom")
        c.create_shard_key("shidx", "a")
        c.create_shard_key("shidx", "b")
        rng = np.random.default_rng(5)
        c.upsert("shidx", [
            {"id": i, "vector": rng.normal(size=4).astype(float).tolist()}
            for i in range(100)], shard_key_selector="a")
        c.upsert("shidx", [
            {"id": 100 + i,
             "vector": rng.normal(size=4).astype(float).tolist()}
            for i in range(100)], shard_key_selector="b")
        assert c.ensure_vector_index("shidx", n_clusters=2,
                                     indexing_threshold=50) == "built"
        res = c.query_points("shidx", query=[1.0, 0.0, 0.0, 0.0],
                             limit=20, shard_key_selector="b",
                             with_payload=False)
        assert res.points and all(p.id >= 100 for p in res.points)

    def test_snapshots(self, spark, tmp_path):
        c = QdrantSparkClient(spark, root=str(tmp_path))
        c.create_collection("snap", vectors_config={"size": 4,
                                                    "distance": "Cosine"})
        c.upsert("snap", [{"id": i, "vector": VECS[i]} for i in (1, 2, 3)])
        meta = c.create_snapshot("snap")
        assert meta["rows"] == 3
        c.delete("snap", [1, 2])
        assert c.count("snap").count == 1
        assert [m["name"] for m in c.list_snapshots("snap")] == [meta["name"]]
        assert c.recover_snapshot("snap", meta["name"])
        assert c.count("snap").count == 3
        assert c.delete_snapshot("snap", meta["name"])
        assert c.list_snapshots("snap") == []

    def test_snapshot_requires_root(self, spark):
        c = QdrantSparkClient(spark)
        c.create_collection("mem", vectors_config={"size": 4,
                                                   "distance": "Cosine"})
        with pytest.raises(ValueError, match="root-backed"):
            c.create_snapshot("mem")


class TestConformanceEdges:
    """Edge cases mirrored from the reference's openapi suite
    (test_match_any_empty.py, geo/datetime filter tests)."""

    def test_match_any_empty_matches_nothing(self, client):
        res = client.count(
            "test_collection",
            count_filter={"must": [{"key": "city", "match": {"any": []}}]})
        assert res.count == 0

    def test_match_except_includes_missing_semantics(self, client):
        res = client.count(
            "test_collection",
            count_filter={"must": [{"key": "city",
                                    "match": {"except": ["Berlin"]}}]})
        # except = at least one present value NOT in the list:
        # 2 -> {Berlin, London}, 3 -> {Berlin, Moscow}, 4 -> {London,
        # Moscow} qualify; 1 -> {Berlin} does not
        assert res.count == 3

    def test_geo_payload_struct(self, spark):
        c = QdrantSparkClient(spark)
        c.create_collection("geo", vectors_config={"size": 2,
                                                   "distance": "Dot"})
        c.upsert("geo", [
            {"id": 1, "vector": [1.0, 0.0],
             "payload": {"loc": {"lon": 13.4, "lat": 52.5}}},   # Berlin
            {"id": 2, "vector": [0.0, 1.0],
             "payload": {"loc": {"lon": -0.13, "lat": 51.5}}},  # London
        ])
        res = c.count("geo", count_filter={"must": [{
            "key": "loc",
            "geo_radius": {"center": {"lon": 13.5, "lat": 52.6},
                           "radius": 50_000.0}}]})
        assert res.count == 1
        recs, _ = c.scroll("geo", scroll_filter={"must": [{
            "key": "loc",
            "geo_bounding_box": {"top_left": {"lon": -1.0, "lat": 52.0},
                                 "bottom_right": {"lon": 1.0, "lat": 51.0}}}]})
        assert [r.id for r in recs] == [2]

    def test_nested_payload_jsonpath(self, spark):
        c = QdrantSparkClient(spark)
        c.create_collection("nested", vectors_config={"size": 2,
                                                      "distance": "Dot"})
        c.upsert("nested", [
            {"id": 1, "vector": [1.0, 0.0],
             "payload": {"meta": {"author": "alice", "stars": 5}}},
            {"id": 2, "vector": [0.0, 1.0],
             "payload": {"meta": {"author": "bob", "stars": 2}}},
        ])
        assert c.count("nested", count_filter={"must": [
            {"key": "meta.author", "match": {"value": "alice"}}]}).count == 1
        assert c.count("nested", count_filter={"must": [
            {"key": "meta.stars", "range": {"gte": 3}}]}).count == 1
        (rec,) = c.retrieve("nested", [1])
        assert rec.payload["meta"] == {"author": "alice", "stars": 5}


def test_payload_only_hydration_prunes_vectors(spark, tmp_path):
    """A payload-only hydration lookup must not read the (wide) vector
    columns — the projection has to reach the parquet scan."""
    c = QdrantSparkClient(spark, root=str(tmp_path))
    c.create_collection("prune", vectors_config={"size": 4,
                                                 "distance": "Cosine"})
    c.upsert("prune", [{"id": i, "vector": VECS[i],
                        "payload": {"city": ["x"]}} for i in (1, 2, 3)])
    col = c._coll("prune")
    need = c._needed_cols(col, True, False)
    assert "vec" not in need
    df = col.df.select(*need).filter(__import__(
        "pyspark.sql.functions", fromlist=["col"]).col("id").isin([1, 2]))
    plan = df._jdf.queryExecution().executedPlan().toString()
    read = plan.split("ReadSchema", 1)[1][:200]
    assert "vec" not in read, read


def test_integer_vs_string_ids(spark):
    c = QdrantSparkClient(spark)
    c.create_collection("uuids", vectors_config={"size": 2,
                                                 "distance": "Dot"})
    u1 = "550e8400-e29b-41d4-a716-446655440000"
    c.upsert("uuids", [{"id": u1, "vector": [1.0, 0.0]}])
    (rec,) = c.retrieve("uuids", [u1])
    assert rec.id == u1
    res = c.query_points("uuids", query=[1.0, 0.0], limit=1)
    assert res.points[0].id == u1


class TestSparseModifier:
    def test_idf_modifier_rescales_query_values(self, spark):
        """sparse_vectors_config={"modifier": "idf"}: explicit sparse
        query values are rescaled by the corpus BM25-convention IDF at
        query time (documents keep raw values); a plain sparse vector
        config is untouched. Mutations invalidate the cached IDF."""
        import math

        c = QdrantSparkClient(spark)
        c.create_collection("idfc", vectors_config={"size": 2,
                                                    "distance": "Dot"},
                            sparse_vectors_config={
                                "txt": {"modifier": "idf"},
                                "raw": {}})
        # dim 1 is common (3 docs), dim 2 rare (1 doc)
        sv = {1: ([1, 2], [1.0, 1.0]), 2: ([1], [1.0]), 3: ([1], [2.0])}
        c.upsert("idfc", [
            {"id": i, "vector": {"": [float(i), 0.0],
                                 "txt": {"indices": ix, "values": vs},
                                 "raw": {"indices": ix, "values": vs}}}
            for i, (ix, vs) in sv.items()])

        def idf(n_d, n=3):
            return math.log((n - n_d + 0.5) / (n_d + 0.5) + 1.0)

        q = {"indices": [1, 2], "values": [1.0, 1.0]}
        res = c.query_points("idfc", query=q, using="txt", limit=3)
        i1, i2 = idf(3), idf(1)
        exp = {1: 1.0 * i1 + 1.0 * i2, 2: 1.0 * i1, 3: 2.0 * i1}
        got = {p.id: p.score for p in res.points}
        assert got == {k: pytest.approx(v, abs=1e-9) for k, v in exp.items()}
        # doc 1 carries the rare dim: with IDF it outranks doc 3
        assert [p.id for p in res.points][0] == 1
        # un-modified sparse vector: raw dot products, doc 3 wins
        raw = c.query_points("idfc", query=q, using="raw", limit=3)
        assert {p.id: p.score for p in raw.points} == \
            {1: pytest.approx(2.0), 2: pytest.approx(1.0),
             3: pytest.approx(2.0)}
        # mutation invalidates: dim 2 becomes common -> its idf drops
        c.upsert("idfc", [{"id": 4, "vector": {
            "": [4.0, 0.0], "txt": {"indices": [2], "values": [1.0]},
            "raw": {"indices": [2], "values": [1.0]}}}])
        res2 = c.query_points("idfc", query=q, using="txt", limit=4)
        i1b, i2b = idf(3, 4), idf(2, 4)
        got2 = {p.id: p.score for p in res2.points}
        assert got2[4] == pytest.approx(1.0 * i2b, abs=1e-9)
        assert got2[1] == pytest.approx(i1b + i2b, abs=1e-9)
        # the pre-mutation generation's cache entries were evicted in
        # _commit (r9 ADVICE low: the cache grew without bound on a
        # long-lived client interleaving mutations with IDF queries)
        gens = {k[2] for k in c._idf_cache if k[0] == "idfc"}
        assert len(gens) <= 1

    def test_sparse_query_by_id_resolves(self, spark):
        """query=point_id on a plain sparse vector resolves the stored
        sparse vector planner-side and excludes the referenced id (it
        used to fall into the multivector branch and crash)."""
        c = QdrantSparkClient(spark)
        c.create_collection("sbid", vectors_config={"size": 2,
                                                    "distance": "Dot"},
                            sparse_vectors_config={"t": {}})
        c.upsert("sbid", [
            {"id": i, "vector": {"": [1.0, 0.0],
                                 "t": {"indices": [1, 7],
                                       "values": [float(i), 1.0]}}}
            for i in range(1, 6)])
        r = c.query_points("sbid", query=3, using="t", limit=5)
        # q = point 3's vector [3, 1] on dims (1, 7): doc i scores 3i+1;
        # id 3 itself excluded (exclude_referenced_ids)
        assert [(p.id, p.score) for p in r.points] == \
            [(5, 16.0), (4, 13.0), (2, 7.0), (1, 4.0)]

    def test_sparse_query_by_id_idf_rescaled(self, spark):
        """query=point_id against a Modifier::Idf sparse vector ranks
        identically to the equivalent explicit query — the reference's
        resolve-then-preprocess order (fetch_vectors.rs); before r10 the
        referenced vector skipped the IDF rescale entirely."""
        c = QdrantSparkClient(spark)
        c.create_collection("sbidf", vectors_config={"size": 2,
                                                     "distance": "Dot"},
                            sparse_vectors_config={"t": {"modifier": "idf"}})
        c.upsert("sbidf", [
            {"id": 1, "vector": {"": [1.0, 0.0], "t": {
                "indices": [1, 2], "values": [1.0, 1.0]}}},
            {"id": 2, "vector": {"": [1.0, 0.0], "t": {
                "indices": [1], "values": [2.0]}}},
            {"id": 3, "vector": {"": [1.0, 0.0], "t": {
                "indices": [2], "values": [3.0]}}},
        ])
        exp = c.query_points("sbidf", query={"indices": [1, 2],
                                             "values": [1.0, 1.0]},
                             using="t", limit=3)
        byid = c.query_points("sbidf", query=1, using="t", limit=3)
        want = [(p.id, pytest.approx(p.score)) for p in exp.points
                if p.id != 1]
        assert [(p.id, p.score) for p in byid.points] == want
        # hand math: both dims appear in 2 of 3 docs
        i = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1)
        assert byid.points[0].score == pytest.approx(3.0 * i)

    def test_sparse_by_id_lookup_from_idf_rescaled(self, spark):
        """query=point_id + lookup_from on a Modifier::Idf sparse vector:
        the vector resolves from the LOOKUP collection and is rescaled by
        the QUERIED collection's IDF (resolve-then-preprocess), with the
        referenced id NOT excluded (other-collection ids stay in,
        collection_query.rs:550-553)."""
        c = QdrantSparkClient(spark)
        c.create_collection("idf_main", vectors_config={
            "size": 2, "distance": "Dot"},
            sparse_vectors_config={"t": {"modifier": "idf"}})
        c.upsert("idf_main", [
            {"id": 1, "vector": {"": [1.0, 0.0], "t": {
                "indices": [1, 2], "values": [1.0, 1.0]}}},
            {"id": 2, "vector": {"": [1.0, 0.0], "t": {
                "indices": [1], "values": [2.0]}}},
            {"id": 3, "vector": {"": [1.0, 0.0], "t": {
                "indices": [2], "values": [3.0]}}},
        ])
        c.create_collection("idf_src", vectors_config={
            "size": 2, "distance": "Dot"},
            sparse_vectors_config={"t": {}})
        c.upsert("idf_src", [{"id": 7, "vector": {
            "": [1.0, 0.0], "t": {"indices": [1, 2],
                                  "values": [1.0, 1.0]}}}])
        explicit = c.query_points(
            "idf_main", query={"indices": [1, 2], "values": [1.0, 1.0]},
            using="t", limit=3)
        byref = c.query_points(
            "idf_main", query=7, using="t", limit=3,
            lookup_from={"collection": "idf_src", "vector": "t"})
        assert [(p.id, round(p.score, 9)) for p in byref.points] == \
            [(p.id, round(p.score, 9)) for p in explicit.points]
        assert len(byref.points) == 3  # nothing excluded


class TestBatchHydration:
    def test_batch_hydrates_in_one_lookup(self, spark, client, monkeypatch):
        """query_batch_points hydrates the whole batch with ONE id-lookup
        scan (union of hit ids x union of needed columns), honoring each
        request's own with_payload/with_vector selection."""
        lookups = []
        orig = QdrantSparkClient._rows_as_dicts
        monkeypatch.setattr(
            QdrantSparkClient, "_rows_as_dicts",
            lambda self, df: lookups.append(1) or orig(self, df))
        q1, q2 = VECS[1], VECS[4]
        res = client.query_batch_points("test_collection", [
            {"query": q1, "limit": 3, "with_payload": True},
            {"query": q2, "limit": 3, "with_payload": False,
             "with_vector": True},
            {"query": q2, "limit": 2,
             "with_payload": {"include": ["city"]}},
        ])
        assert len(lookups) == 1  # one hydration scan for all 3 requests
        assert [p.id for p in res[0].points] == \
            [i for i, _ in _exact_knn(q1, 3)]
        assert res[0].points[0].payload is not None
        assert res[1].points[0].payload is None
        assert res[1].points[0].vector == pytest.approx(
            VECS[res[1].points[0].id], abs=1e-6)
        for p in res[2].points:
            assert set(p.payload or {}) <= {"city"}


def test_search_params_reach_planner(spark, monkeypatch):
    """SearchParams (params= / search_params=) were silently dropped by
    query_points — params.exact (the per-request ANN opt-out the planner
    honors in _leaf_exact) must reach the planner request."""
    from qdrant_spark.query import QueryPlanner

    c = QdrantSparkClient(spark)
    c.create_collection("sp", vectors_config={"size": 2, "distance": "Dot"})
    c.upsert("sp", [{"id": i, "vector": [float(i), 1.0]} for i in range(4)])
    captured = {}
    # the client plans through the planner's internal entry, which keeps
    # driver-side hits as rows
    orig = QueryPlanner._plan
    monkeypatch.setattr(
        QueryPlanner, "_plan",
        lambda self, req: captured.update(req) or orig(self, req))
    c.query_points("sp", query=[1.0, 0.0], limit=2,
                   search_params={"exact": True})
    assert captured.get("params") == {"exact": True}
    captured.clear()
    res = c.search("sp", [1.0, 0.0], limit=2,
                   search_params={"exact": True})
    assert captured.get("params") == {"exact": True}
    assert [p.id for p in res] == [3, 2]


def test_batch_routes_default_vector_through_ivf(spark, tmp_path,
                                                 monkeypatch):
    """query_batch_points routes default-vector nearest requests through
    a registered IVF index like query_points does (exact otherwise);
    params.exact opts a single batch request back out."""
    import numpy as np

    from qdrant_spark.operators import dispatch as DSP

    c = QdrantSparkClient(spark, root=str(tmp_path))
    c.create_collection("bivf", vectors_config={"size": 8,
                                                "distance": "Cosine"})
    rng = np.random.default_rng(7)
    c.upsert("bivf", [
        {"id": i, "vector": rng.normal(size=8).astype(float).tolist()}
        for i in range(400)])
    assert c.ensure_vector_index("bivf", n_clusters=4,
                                 indexing_threshold=1) in ("built",
                                                           "exists")
    calls = []
    orig = DSP.auto_search
    monkeypatch.setattr(DSP, "auto_search",
                        lambda *a, **k: calls.append(1) or orig(*a, **k))
    q = rng.normal(size=8).astype(float).tolist()
    res = c.query_batch_points("bivf", [
        {"query": q, "limit": 5},
        {"query": q, "limit": 5, "params": {"exact": True}},
    ])
    assert len(calls) == 1  # first request dispatched, second exact
    # the dispatcher is selectivity-aware: either way results stay exact
    # at this scale, so both requests agree
    assert [p.id for p in res[0].points] == [p.id for p in res[1].points]


def test_batch_per_request_shard_key(spark, tmp_path):
    """query_batch_points honors a per-request shard_key selector: each
    request's sub-plan scans only its shard's partition directories
    (previously the field was silently ignored and every request searched
    the whole collection)."""
    c = QdrantSparkClient(spark, root=str(tmp_path))
    c.create_collection("shb", vectors_config={"size": 4,
                                               "distance": "Cosine"},
                        sharding_method="custom")
    c.create_shard_key("shb", "ta")
    c.create_shard_key("shb", "tb")
    c.upsert("shb", [{"id": i, "vector": VECS[i]} for i in (1, 2, 3)],
             shard_key_selector="ta")
    c.upsert("shb", [{"id": i, "vector": VECS[i]} for i in (4, 5)],
             shard_key_selector="tb")
    q = [0.2, 0.1, 0.9, 0.7]
    res = c.query_batch_points("shb", [
        {"query": q, "limit": 10, "shard_key": "ta"},
        {"query": q, "limit": 10, "shard_key": "tb"},
        {"query": q, "limit": 10},
    ])
    assert sorted(p.id for p in res[0].points) == [1, 2, 3]
    assert sorted(p.id for p in res[1].points) == [4, 5]
    assert sorted(p.id for p in res[2].points) == [1, 2, 3, 4, 5]
    # scores match the single-request shard-routed path
    single = c.query_points("shb", query=q, limit=10,
                            shard_key_selector="tb")
    assert [(p.id, p.score) for p in res[1].points] == \
        [(p.id, p.score) for p in single.points]


def test_batch_shard_key_bypasses_quant_index(spark):
    """Per-request shard_key in query_batch_points on a collection with a
    built quantized index: each shard-scoped request returns only its
    shard's points, with the ids and scores of the single-request
    shard-routed path — routing it through the whole-corpus codes would
    leak the other shard's points. The unscoped pair still shares one
    quantized batch group."""
    c = QdrantSparkClient(spark)
    c.create_collection(
        "qshb", vectors_config={"size": 4, "distance": "Dot"},
        sharding_method="custom", quantization_config={"scalar": {}})
    for key, base in (("a", 0), ("b", 100)):
        c.create_shard_key("qshb", key)
        c.upsert("qshb",
                 [{"id": base + i, "vector": [float(base + i), 1.0, 0.0, 0.0]}
                  for i in range(20)],
                 shard_key_selector=key)
    assert c.ensure_vector_index("qshb", indexing_threshold=0) == "built"
    q = [1.0, 0.0, 0.0, 0.0]
    res = c.query_batch_points("qshb", [
        {"query": q, "limit": 5, "shard_key": "a"},
        {"query": q, "limit": 5},
        {"query": q, "limit": 5, "shard_key": "b"},
        {"query": q, "limit": 5, "shard_key": "a"},
        {"query": q, "limit": 5},
    ])
    for i, key in ((0, "a"), (2, "b"), (3, "a")):
        single = c.query_points("qshb", query=q, limit=5,
                                shard_key_selector=key)
        assert [(p.id, p.score) for p in res[i].points] == \
            [(p.id, p.score) for p in single.points], i
    assert [p.id for p in res[0].points] == [19, 18, 17, 16, 15]
    assert [p.id for p in res[2].points] == [119, 118, 117, 116, 115]
    assert [p.id for p in res[1].points] == [p.id for p in res[4].points] \
        == [119, 118, 117, 116, 115]


def test_named_vector_ivf_routes_in_batch_and_prefetch(spark, tmp_path,
                                                       monkeypatch):
    """Every named vector's own IVF index routes its leaves — in batch
    requests and prefetch legs, not just the top-level `using` of
    query_points (the planner's per-column indexes)."""
    import numpy as np

    from qdrant_spark.operators import dispatch as DSP

    c = QdrantSparkClient(spark, root=str(tmp_path))
    c.create_collection("nivf", vectors_config={
        "a": {"size": 8, "distance": "Cosine"},
        "b": {"size": 8, "distance": "Cosine"}})
    rng = np.random.default_rng(11)
    c.upsert("nivf", [
        {"id": i, "vector": {"a": rng.normal(size=8).astype(float).tolist(),
                             "b": rng.normal(size=8).astype(float).tolist()}}
        for i in range(300)])
    for name in ("a", "b"):
        assert c.ensure_vector_index("nivf", using=name, n_clusters=4,
                                     indexing_threshold=1) == "built"
    calls = []
    orig = DSP.auto_search
    monkeypatch.setattr(DSP, "auto_search",
                        lambda *a, **k: calls.append(a[0].vec_col)
                        or orig(*a, **k))
    q = rng.normal(size=8).astype(float).tolist()
    c.query_batch_points("nivf", [
        {"query": q, "using": "a", "limit": 3},
        {"query": q, "using": "b", "limit": 3},
    ])
    assert sorted(calls) == ["vec_a", "vec_b"]
    calls.clear()
    res = c.query_points("nivf", prefetch=[
        {"query": q, "using": "a", "limit": 10},
        {"query": q, "using": "b", "limit": 10},
    ], query={"fusion": "rrf"}, limit=5, with_payload=False)
    assert sorted(calls) == ["vec_a", "vec_b"]
    assert len(res.points) == 5


def test_groups_and_legacy_kwargs_forwarded(client):
    """score_threshold on query_points_groups and offset/score_threshold
    on legacy recommend() were silently dropped."""
    q = [0.2, 0.1, 0.9, 0.7]
    full = _exact_knn(q, 8)
    thr = (full[2][1] + full[3][1]) / 2
    res = client.query_points_groups(
        "test_collection", group_by="city", query=q, limit=10,
        group_size=4, score_threshold=thr)
    for g in res.groups:
        for h in g.hits:
            assert h.score > thr
    # legacy recommend with offset: skips the first hit
    base = client.recommend("test_collection", positive=[1], limit=3)
    shifted = client.recommend("test_collection", positive=[1], limit=2,
                               offset=1)
    assert [p.id for p in shifted] == [p.id for p in base][1:3]


class TestNestedPayloadMutation:
    def test_nested_set_overwrite_and_key(self, spark):
        """Nested dict/list payload values through set/overwrite_payload
        (F.lit cannot build them — typed struct/array literals), struct
        schema evolution on new subfields, and SetPayloadOp.key: set the
        payload keys UNDER a dotted path preserving siblings."""
        c = QdrantSparkClient(spark)
        c.create_collection("np", vectors_config={"size": 2,
                                                  "distance": "Dot"})
        c.upsert("np", [
            {"id": 1, "vector": [1.0, 0.0],
             "payload": {"meta": {"a": 1, "b": "x"}, "plain": 5}},
            {"id": 2, "vector": [0.0, 1.0], "payload": {"plain": 7}},
        ])
        # top-level key = wholesale replace
        c.set_payload("np", {"meta": {"a": 2, "b": "y"}}, points=[1])
        assert c.retrieve("np", [1])[0].payload["meta"] == \
            {"a": 2, "b": "y"}
        # new subfield evolves the struct; b replaced away -> null
        c.set_payload("np", {"meta": {"a": 3, "c": True}}, points=[1])
        m = c.retrieve("np", [1])[0].payload["meta"]
        assert (m["a"], m["c"]) == (3, True) and m["b"] is None
        # key= merges under the path, preserving siblings
        c.set_payload("np", {"b": "z"}, points=[1], key="meta")
        m = c.retrieve("np", [1])[0].payload["meta"]
        assert (m["a"], m["b"], m["c"]) == (3, "z", True)
        # key= on a row whose struct is NULL seeds it; other rows keep
        # theirs
        c.set_payload("np", {"a": 9}, points=[2], key="meta")
        assert c.retrieve("np", [2])[0].payload["meta"]["a"] == 9
        assert c.retrieve("np", [1])[0].payload["meta"]["a"] == 3
        # numeric type conflict: the int-typed column widens to double
        # (schemaless JSON payload never truncates); other rows' stored
        # longs survive losslessly
        c.set_payload("np", {"plain": 8.9}, points=[2])
        assert c.retrieve("np", [2])[0].payload["plain"] == 8.9
        assert c.retrieve("np", [1])[0].payload["plain"] == 5
        # overwrite with nested dict + new list column
        c.overwrite_payload("np", {"meta": {"a": 4, "b": "w"},
                                   "tags": ["r", "s"]}, points=[2])
        p2 = c.retrieve("np", [2])[0].payload
        assert p2["meta"]["a"] == 4 and p2["tags"] == ["r", "s"]
        assert "plain" not in p2  # overwrite clears unlisted keys
        # array path steps rejected with a clear error
        with pytest.raises(ValueError, match="array steps"):
            c.set_payload("np", {"x": 1}, points=[1], key="meta[0]")
        # non-struct path step rejected
        with pytest.raises(ValueError, match="not a struct"):
            c.set_payload("np", {"x": 1}, points=[1], key="plain.x")
        # single-segment key over an existing NON-struct column rejected
        # too (r9 ADVICE medium: it used to NULL the scalar on ALL rows,
        # silently losing unselected points' values)
        with pytest.raises(ValueError, match="not a struct"):
            c.set_payload("np", {"x": 1}, points=[2], key="plain")
        assert c.retrieve("np", [1])[0].payload["plain"] == 5

    def test_delete_payload_nested_and_missing_keys(self, spark):
        c = QdrantSparkClient(spark)
        c.create_collection("dp", vectors_config={"size": 2,
                                                  "distance": "Dot"})
        c.upsert("dp", [
            {"id": 1, "vector": [1.0, 0.0],
             "payload": {"meta": {"a": 1, "b": "x"}, "plain": 5}},
            {"id": 2, "vector": [0.0, 1.0],
             "payload": {"meta": {"a": 2, "b": "y"}, "plain": 7}},
        ])
        # nested path: null the subfield, keep siblings, other rows intact
        c.delete_payload("dp", ["meta.b"], points=[1])
        p1 = c.retrieve("dp", [1])[0].payload
        assert p1["meta"]["a"] == 1 and p1["meta"]["b"] is None
        assert c.retrieve("dp", [2])[0].payload["meta"]["b"] == "y"
        # missing key / missing path / non-struct step: no-ops, no crash
        c.delete_payload("dp", ["nope", "meta.zzz", "plain.x"], points=[1])
        assert c.retrieve("dp", [1])[0].payload["plain"] == 5
        # top-level delete still works
        c.delete_payload("dp", ["plain"], points=[1])
        assert "plain" not in c.retrieve("dp", [1])[0].payload


def test_client_batch_sparse_uses_index_group(spark, monkeypatch):
    """Through the client: >=2 sparse batch requests on an ensured index
    are answered by one batched index scan, results equal to the
    unindexed collection's answers."""
    import qdrant_spark.operators.sparse as SP

    def mk(name):
        c = QdrantSparkClient(spark)
        c.create_collection(name, vectors_config={"size": 2,
                                                  "distance": "Dot"},
                            sparse_vectors_config={"text": {}})
        c.upsert(name, [
            {"id": i, "vector": {"": [float(i), 0.0],
                                 "text": {"indices": [i % 3, 9],
                                          "values": [1.0, 0.1 * i]}}}
            for i in range(1, 13)])
        return c
    reqs = [
        {"query": {"indices": [0, 9], "values": [1.0, 1.0]}, "using": "text",
         "limit": 4, "with_payload": False},
        {"query": {"indices": [1], "values": [2.0]}, "using": "text",
         "limit": 3, "with_payload": False},
    ]
    plain = mk("sbp_plain")
    want = [[(p.id, p.score) for p in r.points]
            for r in plain.query_batch_points("sbp_plain", reqs)]
    c = mk("sbp_idx")
    assert c.ensure_vector_index("sbp_idx", using="text",
                                 indexing_threshold=1) == "built"
    calls = []
    orig = SP.sparse_knn_index_batch
    monkeypatch.setattr(SP, "sparse_knn_index_batch",
                        lambda *a, **k: calls.append(1) or orig(*a, **k))
    got = [[(p.id, p.score) for p in r.points]
           for r in c.query_batch_points("sbp_idx", reqs)]
    assert len(calls) == 1
    for g, w in zip(got, want):
        assert [x[0] for x in g] == [x[0] for x in w]
        for (gi, gs), (wi, ws) in zip(g, w):
            assert gs == pytest.approx(ws, abs=1e-9)


def test_facet_strict_mode_checks(spark):
    """Facet runs the StrictModeVerification checks (verification/
    facet.rs): limit cap and unindexed-filter read."""
    c = QdrantSparkClient(spark)
    c.create_collection("fsm", vectors_config={"size": 2,
                                               "distance": "Dot"},
                        strict_mode_config={
                            "enabled": True, "max_query_limit": 5,
                            "unindexed_filtering_retrieve": False})
    c.upsert("fsm", [{"id": 1, "vector": [1.0, 0.0],
                      "payload": {"lang": "en"}}])
    with pytest.raises(StrictModeError):
        c.facet("fsm", "lang", limit=50)
    with pytest.raises(StrictModeError):
        c.facet("fsm", "lang", facet_filter={"must": [
            {"key": "lang", "match": {"value": "en"}}]})
    c.create_payload_index("fsm", "lang", "keyword")
    hits = c.facet("fsm", "lang", limit=5, facet_filter={"must": [
        {"key": "lang", "match": {"value": "en"}}]}).hits
    assert [(h.value, h.count) for h in hits] == [("en", 1)]


class TestGroupsShardScoped:
    def test_groups_shard_key_selector(self, spark):
        """query_points_groups with a shard selector scopes the grouped
        query to the selected shard's partition directories, bypassing
        whole-corpus indexes (ShardSelector on the groups API)."""
        c = QdrantSparkClient(spark)
        c.create_collection("gshard",
                            vectors_config={"size": 2, "distance": "Dot"},
                            sharding_method="custom",
                            quantization_config={"scalar": {}})
        c.create_shard_key("gshard", "a")
        c.create_shard_key("gshard", "b")
        for key, base in (("a", 0), ("b", 100)):
            c.upsert("gshard",
                     [{"id": base + i, "vector": [float(base + i), 1.0],
                       "payload": {"g": i % 2}} for i in range(12)],
                     shard_key_selector=key)
        c.ensure_vector_index("gshard", indexing_threshold=0)
        res = c.query_points_groups(
            "gshard", group_by="g", query=[1.0, 0.0], limit=2,
            group_size=3, shard_key_selector="a", with_payload=False)
        ids = [p.id for g in res.groups for p in g.hits]
        assert ids and all(i < 100 for i in ids)
        # unscoped sees shard b's larger dots first
        res2 = c.query_points_groups(
            "gshard", group_by="g", query=[1.0, 0.0], limit=2,
            group_size=3, with_payload=False)
        ids2 = [p.id for g in res2.groups for p in g.hits]
        assert ids2 and all(i >= 100 for i in ids2)


class TestLookupFromNormalization:
    def _idf_pair(self, c, main: str, src: str) -> None:
        c.create_collection(main, vectors_config={"size": 2,
                                                  "distance": "Dot"},
                            sparse_vectors_config={"t": {"modifier": "idf"}})
        c.upsert(main, [
            {"id": 1, "vector": {"": [1.0, 0.0], "t": {
                "indices": [1, 2], "values": [1.0, 1.0]}}},
            {"id": 2, "vector": {"": [1.0, 0.0], "t": {
                "indices": [1], "values": [2.0]}}},
            {"id": 3, "vector": {"": [1.0, 0.0], "t": {
                "indices": [2], "values": [3.0]}}},
        ])
        c.create_collection(src, vectors_config={"size": 2,
                                                 "distance": "Dot"},
                            sparse_vectors_config={"t": {}})
        c.upsert(src, [{"id": 7, "vector": {
            "": [1.0, 0.0], "t": {"indices": [1, 2],
                                  "values": [1.0, 1.0]}}}])

    def test_batched_sparse_by_id_lookup_from_idf(self, spark):
        """query_batch_points normalizes lookup_from BEFORE the sparse
        modifier walk (r10 ADVICE, medium): a batched id-referenced
        sparse query with lookup_from={'collection', 'vector': NAME} on
        a Modifier::Idf vector previously resolved the raw vector NAME
        as a column (AnalysisException). Must equal the single-request
        query_points result."""
        c = QdrantSparkClient(spark)
        self._idf_pair(c, "blf_main", "blf_src")
        single = c.query_points(
            "blf_main", query=7, using="t", limit=3,
            lookup_from={"collection": "blf_src", "vector": "t"})
        [batch] = c.query_batch_points("blf_main", [
            {"query": 7, "using": "t", "limit": 3,
             "lookup_from": {"collection": "blf_src", "vector": "t"}}])
        assert [(p.id, round(p.score, 9)) for p in batch.points] == \
            [(p.id, round(p.score, 9)) for p in single.points]
        assert len(batch.points) == 3

    def test_prefetch_lookup_from_normalized(self, spark):
        """lookup_from inside a PREFETCH node has its vector NAME
        normalized to the column on BOTH the query_points and the batch
        path (previously neither path walked the tree)."""
        c = QdrantSparkClient(spark)
        c.create_collection("plf_main", vectors_config={"size": 2,
                                                        "distance": "Dot"})
        c.upsert("plf_main", [{"id": i, "vector": [float(i), 1.0]}
                              for i in range(5)])
        c.create_collection("plf_src", vectors_config={
            "emb": {"size": 2, "distance": "Dot"}})
        c.upsert("plf_src", [{"id": 7, "vector": {"emb": [1.0, 0.5]}}])
        pf = {"query": 7, "limit": 5,
              "lookup_from": {"collection": "plf_src", "vector": "emb"}}
        res = c.query_points("plf_main", prefetch=dict(pf),
                             query={"fusion": "rrf"}, limit=5,
                             with_payload=False)
        assert res.points and res.points[0].id == 4
        [bres] = c.query_batch_points("plf_main", [
            {"prefetch": [dict(pf)], "query": {"fusion": "rrf"},
             "limit": 5}])
        assert [p.id for p in bres.points] == [p.id for p in res.points]

    def test_idf_sparse_prefetch_lookup_from_in_batch(self, spark):
        """An id-referenced IDF sparse query inside a batched PREFETCH
        node resolves through its normalized lookup_from (the modifier
        walk sees the column, not the raw name)."""
        c = QdrantSparkClient(spark)
        self._idf_pair(c, "plfb_main", "plfb_src")
        single = c.query_points(
            "plfb_main", query=7, using="t", limit=3,
            lookup_from={"collection": "plfb_src", "vector": "t"})
        [batch] = c.query_batch_points("plfb_main", [
            {"prefetch": [{"query": 7, "using": "t", "limit": 3,
                           "lookup_from": {"collection": "plfb_src",
                                           "vector": "t"}}],
             "query": {"fusion": "rrf"}, "limit": 3}])
        # rrf over one leg preserves the leg's ranking
        assert [p.id for p in batch.points] == [p.id for p in single.points]


class TestQuantizationPatch:
    def test_update_collection_quantization_disable(self, spark):
        """quantization_config={'disabled': True} (QuantizationConfigDiff
        Disabled) clears quantization from every dense vector and drops
        built codes (r10 ADVICE: disabling was impossible)."""
        c = QdrantSparkClient(spark)
        c.create_collection("qdis", vectors_config={"size": 4,
                                                    "distance": "Dot"},
                            quantization_config={"scalar": {}})
        c.upsert("qdis", [{"id": i, "vector": [float(i), 1.0, 0.0, 0.0]}
                          for i in range(30)])
        assert c.ensure_vector_index("qdis", indexing_threshold=0) == "built"
        assert "" in c._coll("qdis").quant
        c.update_collection("qdis", quantization_config={"disabled": True})
        assert c._coll("qdis").vectors[""].quantization is None
        assert c._coll("qdis").quant == {}
        # the string form works too
        c.update_collection("qdis", quantization_config={"binary": {}})
        c.update_collection("qdis", quantization_config="Disabled")
        assert c._coll("qdis").vectors[""].quantization is None

    def test_update_collection_keeps_per_vector_config(self, spark):
        """A collection-level PATCH leaves vectors that declared their OWN
        per-name quantization_config untouched (VectorParams precedence,
        r10 ADVICE), while vectors on the collection default follow."""
        c = QdrantSparkClient(spark)
        c.create_collection("qown", vectors_config={
            "a": {"size": 4, "distance": "Dot",
                  "quantization_config": {"binary": {}}},
            "b": {"size": 4, "distance": "Dot"},
        }, quantization_config={"scalar": {}})
        col = c._coll("qown")
        assert col.vectors["a"].quantization == {"binary": {}}
        assert col.vectors["b"].quantization == {"scalar": {}}
        c.update_collection("qown",
                            quantization_config={"product":
                                                 {"compression": "x8"}})
        col = c._coll("qown")
        assert col.vectors["a"].quantization == {"binary": {}}  # kept
        assert col.vectors["b"].quantization == \
            {"product": {"compression": "x8"}}
        # explicit disable clears BOTH (disabling is an explicit request)
        c.update_collection("qown", quantization_config={"disabled": True})
        col = c._coll("qown")
        assert col.vectors["a"].quantization is None
        assert col.vectors["b"].quantization is None


def test_set_payload_widens_int_column_to_double(spark):
    """set_payload with a float over an int-typed payload column widens
    the column to double instead of truncating the value (the client's
    cross-batch upsert rule applied on the mutation path; the
    reference's schemaless JSON payload never truncates). Found by the
    nested-roundtrip property test: p1={'num': 0}, p2={'num': 0.5}."""
    c = QdrantSparkClient(spark)
    c.create_collection("widen", vectors_config={"size": 2,
                                                 "distance": "Dot"})
    c.upsert("widen", [{"id": 1, "vector": [1.0, 0.0],
                        "payload": {"num": 0}},
                       {"id": 2, "vector": [0.0, 1.0],
                        "payload": {"num": 7}}])
    c.set_payload("widen", {"num": 0.5}, points=[1])
    got = {p.id: p.payload["num"] for p in c.retrieve("widen", [1, 2])}
    assert got[1] == 0.5       # the float survives
    assert got[2] == 7.0       # untouched rows widen losslessly


def test_client_reopens_persisted_collection(spark, tmp_path):
    """A client with a storage root REOPENS a previously committed
    points snapshot on create_collection (r14 — the reference reopens
    collections from disk on restart; at scale 're-upsert everything
    after every restart' is not a lifecycle): points, payload
    hydration, filters, and further mutations all work on the reopened
    frame without any re-ingest."""
    from qdrant_spark.client import QdrantSparkClient

    root = str(tmp_path / "store")
    c1 = QdrantSparkClient(spark, root=root)
    c1.create_collection("reopen",
                         vectors_config={"size": 4, "distance": "Dot"})
    c1.upsert("reopen", [
        {"id": i, "vector": [float(i), 1.0, 0.0, 0.5],
         "payload": {"grp": "a" if i % 2 else "b"}} for i in range(20)])

    c2 = QdrantSparkClient(spark, root=root)
    c2.create_collection("reopen",
                         vectors_config={"size": 4, "distance": "Dot"})
    assert c2.count("reopen").count == 20  # reopened, no upsert
    res = c2.query_points("reopen", query=[1.0, 0.0, 0.0, 0.0], limit=3)
    assert [p.id for p in res.points] == [19, 18, 17]
    assert res.points[0].payload["grp"] == "a"
    flt = c2.count("reopen", count_filter={
        "must": [{"key": "grp", "match": {"value": "b"}}]})
    assert flt.count == 10
    # mutations continue from the reopened state
    c2.delete("reopen", points_selector=[0, 1, 2, 3])
    assert c2.count("reopen").count == 16
    # a THIRD session sees the post-mutation snapshot
    c3 = QdrantSparkClient(spark, root=root)
    c3.create_collection("reopen",
                         vectors_config={"size": 4, "distance": "Dot"})
    assert c3.count("reopen").count == 16
    # without a root, create still starts empty
    c4 = QdrantSparkClient(spark)
    c4.create_collection("reopen",
                         vectors_config={"size": 4, "distance": "Dot"})
    assert c4.count("reopen").count == 0


def test_point_frames_plan_as_local_relations(client):
    # r15 (guide §4/§6): driver-local point batches plan as Arrow
    # LocalRelations — the pickled-RDD path ran a full python-task job
    # on every later collect/broadcast of the tiny frame. NaN payloads
    # must still fall back to the plain createDataFrame path (Arrow
    # would silently coerce them).
    col = client._coll("test_collection")
    pts = [{"id": 100 + i, "vector": [0.1 * i, 0.2, 0.3, 0.4]}
           for i in range(3)]
    plan = (client._points_to_df(col, pts)
            ._jdf.queryExecution().executedPlan().toString())
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    nan_pts = [{"id": 200, "vector": [float("nan"), 0.0, 0.0, 0.0]}]
    plan2 = (client._points_to_df(col, nan_pts)
             ._jdf.queryExecution().executedPlan().toString())
    assert "LocalTableScan" not in plan2


class TestGroupOrder:
    """Grouped queries return groups best-first: ranked by their best
    hit's score, ties by group value ascending (group_by.rs ranks groups
    the same way); hits inside a group rank by score, then id."""

    @pytest.fixture(scope="class")
    def grouped(self, spark):
        vecs = np.random.default_rng(3).normal(size=(400, 4))
        c = QdrantSparkClient(spark)
        c.create_collection("g40", vectors_config={"size": 4,
                                                   "distance": "Dot"})
        c.upsert("g40", [{"id": i, "vector": vecs[i].tolist(),
                          "payload": {"g": f"g{i % 40:02d}"}}
                         for i in range(400)])
        return c, vecs

    def test_groups_best_first(self, grouped):
        c, vecs = grouped
        q = [0.3, -0.2, 0.9, 0.1]
        s = vecs @ np.asarray(q)
        top = sorted(range(400), key=lambda i: (-s[i], i))[:10 * 2 * 4]
        want: dict[str, list[int]] = {}
        for i in top:
            hits = want.setdefault(f"g{i % 40:02d}", [])
            if len(hits) < 2:
                hits.append(i)
        want_order = sorted(want, key=lambda g: (-s[want[g][0]], g))[:10]
        for res in (
                c.query_points_groups("g40", group_by="g", query=q,
                                      limit=10, group_size=2),
                c.search_groups("g40", q, group_by="g", limit=10,
                                group_size=2)):
            assert [g.id for g in res.groups] == want_order
            assert [[h.id for h in g.hits] for g in res.groups] == \
                [want[g] for g in want_order]
        rec = c.recommend_groups("g40", group_by="g", positive=[7],
                                 limit=10, group_size=2)
        best = [g.hits[0].score for g in rec.groups]
        assert len(best) == 10 and best == sorted(best, reverse=True)

    def test_tied_groups_rank_by_group_value(self, spark):
        c = QdrantSparkClient(spark)
        c.create_collection("gtie", vectors_config={"size": 2,
                                                    "distance": "Dot"})
        c.upsert("gtie", [{"id": i, "vector": [1.0, 0.5],
                           "payload": {"g": ["c", "a", "b"][i % 3]}}
                          for i in range(12)])
        res = c.query_points_groups("gtie", group_by="g", query=[1.0, 1.0],
                                    limit=3, group_size=2)
        assert [g.id for g in res.groups] == ["a", "b", "c"]
        assert [[h.id for h in g.hits] for g in res.groups] == \
            [[1, 4], [2, 5], [0, 3]]
        assert all(h.payload == {"g": g.id}
                   for g in res.groups for h in g.hits)


def test_dense_query_dimension_checked(client):
    """A dense query of the wrong dimension raises ValueError naming both
    dimensions (it used to crash in hydration on null scores, or match
    nothing)."""
    with pytest.raises(ValueError, match=r"3 dimensions.*has 4"):
        client.query_points("test_collection", query=[0.1, 0.2, 0.3])
    with pytest.raises(ValueError, match=r"5 dimensions.*has 4"):
        client.query_points("test_collection", prefetch=[
            {"query": [0.1] * 4, "limit": 5},
            {"query": [0.1] * 5, "limit": 5}], query={"fusion": "rrf"})
    with pytest.raises(ValueError, match=r"3 dimensions.*has 4"):
        client.query_batch_points("test_collection", [
            {"query": [0.1] * 4}, {"query": [0.1, 0.2, 0.3]}])
    with pytest.raises(ValueError, match=r"3 dimensions.*has 4"):
        client.query_points_groups("test_collection", group_by="city",
                                   query=[0.1, 0.2, 0.3])
