"""Property test: the exact sparse leaf (``operators.sparse.sparse_knn``,
one row-wise projection and a top-k sort) against a NumPy dot-product
oracle, through the planner so filter, score_threshold and offset apply
as they do for a client request. Values are multiples of 1/4, so every
sum is exact and ties are real: they must break by id ascending.
Duplicate query dims sum their weights; rows that share no dimension
with the query (empty or null vectors included) are not hits."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from qdrant_spark.query import QueryPlanner
from qdrant_spark.session import local_df

_value = st.integers(-8, 8).map(lambda x: x / 4)
_rows = st.lists(
    st.tuples(st.integers(0, 2),
              st.one_of(st.none(), st.dictionaries(st.integers(0, 11), _value,
                                                   max_size=5))),
    min_size=1, max_size=25)
_query = st.lists(st.tuples(st.integers(0, 11), _value), min_size=1,
                  max_size=6)


def _oracle(rows, query, *, g, threshold, offset, limit):
    """Best-first (id, score) hits of the sparse query, by NumPy."""
    weights = np.zeros(12)
    for d, v in query:
        weights[d] += v
    dims = {d for d, _ in query}
    hits = []
    for i, (gv, vec) in enumerate(rows):
        if vec is None or not dims & set(vec) or (g is not None and gv != g):
            continue
        idx = np.fromiter(vec, dtype=int)
        hits.append((i, float(np.dot(weights[idx],
                                     np.fromiter(vec.values(), float)))))
    hits.sort(key=lambda h: (-h[1], h[0]))
    hits = hits[:offset + limit]
    if threshold is not None:
        hits = [h for h in hits if h[1] > threshold]
    return hits[offset:]


def _points(spark, rows, named: bool):
    sparse = [None if v is None else (list(v), list(v.values()))
              for _, v in rows]
    if named:
        return local_df(
            spark, [(i, g, s) for i, ((g, _), s) in enumerate(zip(rows, sparse))],
            "id long, g long, "
            "vec_text struct<indices: array<int>, values: array<float>>")
    return local_df(
        spark, [(i, g, *(s or (None, None)))
                for i, ((g, _), s) in enumerate(zip(rows, sparse))],
        "id long, g long, sparse_indices array<int>, "
        "sparse_values array<float>")


@pytest.mark.parametrize("named", [False, True])
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(rows=_rows, query=_query, g=st.one_of(st.none(), st.integers(0, 2)),
       threshold=st.one_of(st.none(), _value), offset=st.integers(0, 3),
       limit=st.integers(1, 8))
def test_sparse_leaf_matches_numpy(spark, named, rows, query, g, threshold,
                                   offset, limit):
    req = {"query": {"nearest": {"indices": [d for d, _ in query],
                                 "values": [v for _, v in query]}},
           "limit": limit, "offset": offset}
    if named:
        req["using"] = "vec_text"
    if g is not None:
        req["filter"] = {"must": [{"key": "g", "match": {"value": g}}]}
    if threshold is not None:
        req["score_threshold"] = threshold
    got = [(r["id"], r["score"]) for r in
           QueryPlanner(_points(spark, rows, named)).plan(req).collect()]
    want = _oracle(rows, query, g=g, threshold=threshold, offset=offset,
                   limit=limit)
    assert [i for i, _ in got] == [i for i, _ in want]
    assert np.allclose([s for _, s in got], [s for _, s in want],
                       rtol=0, atol=1e-9)
