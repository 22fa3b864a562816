"""Selectivity-aware filtered-search dispatch: estimator combination
rules (query_estimator.rs semantics), Agresti-Coull sampled check
(sample_estimation.rs), strategy routing (dispatch.rs:56-176), and the
filtered-ANN recall gate (the filtrable_hnsw_test.rs pattern)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from qdrant_spark.operators.dispatch import (
    CardinalityEstimation,
    FieldCardStats,
    agresti_coull_interval,
    auto_search,
    choose_filtered_strategy,
    combine_min_should,
    combine_must,
    combine_should,
    estimate_filter,
    invert,
    sample_check_cardinality,
    stats_from_index,
)

TOTAL = 1000
A = CardinalityEstimation(100, 200, 300)
B = CardinalityEstimation(100, 150, 200)


def _ok(e: CardinalityEstimation, total: int = TOTAL) -> None:
    assert 0 <= e.min <= e.exp <= e.max <= total


class TestCombinators:
    def test_must_bounds(self):
        e = combine_must([A, B], TOTAL)
        _ok(e)
        # independence product: 0.2 * 0.15 * 1000 = 30
        assert e.exp == 30
        assert e.max == 200  # min of maxima
        assert e.min == 0    # 100 + 100 - 1000 < 0

    def test_must_overlapping_min(self):
        big = CardinalityEstimation(800, 850, 900)
        e = combine_must([big, big], TOTAL)
        assert e.min == 600  # 800 + 800 - 1000

    def test_should_complement_rule(self):
        e = combine_should([A, B], TOTAL)
        _ok(e)
        # 1 - (1-.2)(1-.15) = .32
        assert e.exp == 320
        assert e.min == 100  # max of minima
        assert e.max == 500  # sum capped

    def test_should_cap_at_total(self):
        big = CardinalityEstimation(600, 700, 800)
        e = combine_should([big, big], TOTAL)
        assert e.max == TOTAL

    def test_min_should_over_count_is_zero(self):
        assert combine_min_should([A], 2, TOTAL) == CardinalityEstimation.exact(0)

    def test_min_should_pairs(self):
        e = combine_min_should([A, A, B], 2, TOTAL)
        _ok(e)
        # three pairwise intersections OR'd — strictly below any single leaf
        assert 0 < e.exp < A.exp

    def test_invert_roundtrip(self):
        e = invert(A, TOTAL)
        assert (e.min, e.exp, e.max) == (700, 800, 900)
        assert invert(e, TOTAL) == A


STATS = {
    "label": FieldCardStats(n=950, nulls=50, n_distinct=10),
    "price": FieldCardStats(n=1000, nulls=0, n_distinct=400,
                            min_num=0.0, max_num=100.0),
}


class TestEstimateFilter:
    def test_match_value(self):
        e = estimate_filter(
            {"must": [{"key": "label", "match": {"value": 3}}]}, STATS, TOTAL)
        _ok(e)
        assert e.exp == 95          # n / D
        assert e.max == 941         # n - D + 1

    def test_match_any_scales(self):
        e1 = estimate_filter(
            {"must": [{"key": "label", "match": {"any": [1]}}]}, STATS, TOTAL)
        e3 = estimate_filter(
            {"must": [{"key": "label", "match": {"any": [1, 2, 3]}}]}, STATS, TOTAL)
        assert e1.exp < e3.exp <= 950

    def test_range_uniform_fraction(self):
        e = estimate_filter(
            {"must": [{"key": "price", "range": {"gte": 0, "lt": 25}}]},
            STATS, TOTAL)
        assert e.exp == 250

    def test_range_disjoint_is_zero(self):
        e = estimate_filter(
            {"must": [{"key": "price", "range": {"gt": 200}}]}, STATS, TOTAL)
        assert e == CardinalityEstimation.exact(0)

    def test_has_id_exact(self):
        e = estimate_filter({"must": [{"has_id": [1, 2, 3]}]}, STATS, TOTAL)
        assert e == CardinalityEstimation.exact(3)

    def test_unindexed_field_unknown(self):
        e = estimate_filter(
            {"must": [{"key": "mystery", "match": {"value": 1}}]}, STATS, TOTAL)
        assert (e.min, e.max) == (0, TOTAL)

    def test_must_not_inverts(self):
        e = estimate_filter(
            {"must_not": [{"key": "label", "match": {"value": 3}}]}, STATS, TOTAL)
        _ok(e)
        assert e.exp > TOTAL // 2

    def test_empty_filter_matches_all(self):
        assert estimate_filter(None, STATS, TOTAL) == CardinalityEstimation.exact(TOTAL)
        assert estimate_filter({}, STATS, TOTAL) == CardinalityEstimation.exact(TOTAL)

    def test_nested_filter_condition_recurses(self):
        e = estimate_filter(
            {"must": [{"must": [{"key": "label", "match": {"value": 1}}]}]},
            STATS, TOTAL)
        assert e.exp == 95


class TestSampledCheck:
    def test_interval_shrinks_with_trials(self):
        _, d1 = agresti_coull_interval(10, 5, 100_000)
        _, d2 = agresti_coull_interval(1000, 500, 100_000)
        assert d2 < d1

    def test_reference_case(self):
        # sample_estimation.rs test: 12 trials, half positive, total 100k,
        # threshold 10k -> above
        exp, _ = agresti_coull_interval(12, 6, 100_000)
        assert exp > 10_000

    def test_spark_sampled_check(self, spark):
        df = spark.range(2000).withColumn(
            "flag", (F.col("id") % 2 == 0).cast("boolean"))
        flt = {"must": [{"key": "flag", "match": {"value": True}}]}
        # true cardinality 1000
        assert sample_check_cardinality(df, flt, 200, 2000)
        assert not sample_check_cardinality(df, flt, 1800, 2000)


class TestStrategyChoice:
    def test_exact_small_filter_goes_plain(self):
        s, _ = choose_filtered_strategy(
            {"must": [{"has_id": [1, 2, 3]}]}, STATS, TOTAL,
            full_scan_threshold=100)
        assert s == "plain"

    def test_certainly_large_goes_ivf(self):
        s, _ = choose_filtered_strategy(
            {"must_not": [{"has_id": [1]}]}, STATS, TOTAL,
            full_scan_threshold=100)
        assert s == "ivf"

    def test_midband_asks_sampler(self):
        calls = []

        def sampler():
            calls.append(1)
            return True

        s, _ = choose_filtered_strategy(
            {"must": [{"key": "label", "match": {"value": 3}}]}, STATS, TOTAL,
            full_scan_threshold=100, sampler=sampler)
        assert calls and s == "ivf"


# ---------------------------------------------------------------------------
# end-to-end: auto_search routing + filtered recall gate
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def corpus(spark):
    """4000 x 16-dim clustered corpus with a 30%-selective flag and a
    2%-selective rare label — enough rows that cluster pruning is real."""
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, 16)) * 4.0
    rows = []
    for i in range(4000):
        c = i % 8
        v = centers[c] + rng.normal(size=16)
        rows.append((i, [float(x) for x in v], int(i % 10 < 3), i % 50))
    return spark.createDataFrame(
        rows, "id long, vec array<double>, flag int, bucket int")


@pytest.fixture(scope="module")
def ivf(corpus):
    from qdrant_spark.operators.ann import build_ivf

    return build_ivf(corpus, n_clusters=8, vec_col="vec", id_col="id", seed=1)


@pytest.fixture(scope="module")
def corpus_stats(corpus):
    from qdrant_spark.catalog import FieldIndex, field_index_stats

    return stats_from_index(field_index_stats(corpus, [
        FieldIndex("flag", "integer"),
        FieldIndex("bucket", "integer"),
    ]))


class TestAutoSearch:
    Q = [0.5] * 16

    def test_selective_filter_routes_plain_and_is_exact(
            self, ivf, corpus, corpus_stats):
        from qdrant_spark.operators.knn import knn

        flt = {"must": [{"key": "bucket", "match": {"value": 7}}]}  # 2%
        out, strategy, _ = auto_search(
            ivf, self.Q, k=10, nprobe=2, flt=flt, stats=corpus_stats,
            total=4000, full_scan_threshold=400, return_strategy=True)
        assert strategy == "plain"
        exact = knn(corpus, self.Q, k=10, vec_col="vec", id_col="id",
                    flt=flt, select=["id", "score"])
        assert [r["id"] for r in out.collect()] == \
               [r["id"] for r in exact.collect()]

    def test_broad_filter_routes_ivf(self, ivf, corpus_stats):
        flt = {"must_not": [{"key": "bucket", "match": {"value": 7}}]}  # 98%
        out, strategy, _ = auto_search(
            ivf, self.Q, k=10, nprobe=8, flt=flt, stats=corpus_stats,
            total=4000, full_scan_threshold=400, return_strategy=True)
        assert strategy == "ivf"
        assert out.count() == 10

    def test_no_filter_small_corpus_plain(self, ivf, corpus_stats):
        _, strategy, _ = auto_search(
            ivf, self.Q, k=5, stats=corpus_stats, total=4000,
            full_scan_threshold=5000, return_strategy=True)
        assert strategy == "plain"

    def test_exact_forces_plain(self, ivf, corpus_stats):
        flt = {"must_not": [{"key": "bucket", "match": {"value": 7}}]}
        _, strategy, _ = auto_search(
            ivf, self.Q, flt=flt, stats=corpus_stats, total=4000,
            full_scan_threshold=400, exact=True, return_strategy=True)
        assert strategy == "plain"

    def test_filtered_recall_gate(self, ivf, corpus, corpus_stats):
        """filtrable_hnsw_test.rs pattern: ANN recall under a moderately
        selective filter must stay high. The 30% flag filter routes to the
        IVF path; the probe boost widens nprobe by ~1/0.3."""
        from qdrant_spark.operators.knn import knn

        rng = np.random.default_rng(11)
        flt = {"must": [{"key": "flag", "match": {"value": 1}}]}
        hits = total = 0
        for _ in range(5):
            q = [float(x) for x in rng.normal(size=16) * 3.0]
            out, strategy, _ = auto_search(
                ivf, q, k=10, nprobe=2, flt=flt, stats=corpus_stats,
                total=4000, full_scan_threshold=200, sample=False,
                return_strategy=True)
            assert strategy == "ivf"
            approx = {r["id"] for r in out.collect()}
            exact = {r["id"] for r in knn(
                corpus, q, k=10, vec_col="vec", id_col="id", flt=flt,
                select=["id", "score"]).collect()}
            hits += len(approx & exact)
            total += len(exact)
        assert hits / total >= 0.9

    def test_probe_boost_caps_at_cluster_count(self, ivf, corpus_stats):
        # 2%-selective filter forced down the ivf path: boost must clamp
        flt = {"must": [{"key": "bucket", "match": {"value": 7}}]}
        out, strategy, _ = auto_search(
            ivf, self.Q, k=5, nprobe=4, flt=flt, stats=corpus_stats,
            total=4000, full_scan_threshold=1, sample=False,
            return_strategy=True)
        assert strategy == "ivf"
        assert out.count() == 5  # full-probe fallback found the rare rows

    def test_plain_path_has_no_cluster_predicate(self, ivf, corpus_stats):
        flt = {"must": [{"key": "bucket", "match": {"value": 7}}]}
        out, strategy, _ = auto_search(
            ivf, self.Q, k=5, flt=flt, stats=corpus_stats, total=4000,
            full_scan_threshold=400, return_strategy=True)
        assert strategy == "plain"
        assert "__cluster" not in out._jdf.queryExecution().executedPlan().toString()


def test_stats_from_index_roundtrip(spark):
    from qdrant_spark.catalog import FieldIndex, field_index_stats

    df = spark.range(100).withColumn("grp", (F.col("id") % 4).cast("int"))
    st = stats_from_index(field_index_stats(df, [FieldIndex("grp", "integer")]))
    assert st["grp"].n == 100 and st["grp"].n_distinct == 4
    assert st["grp"].min_num == 0.0 and st["grp"].max_num == 3.0


def test_planner_routes_nearest_through_dispatcher(spark, embeddings):
    """QueryPlanner with a registered IvfIndex: a filtered nearest leaf
    must produce the same result as the exact planner (the dispatcher's
    plain route under a selective filter), and an unfiltered leaf forced
    onto the index (tiny full_scan_threshold, full probe) must also equal
    exact — the reference's every-search-through-the-estimator shape."""
    from qdrant_spark.operators.ann import build_ivf
    from qdrant_spark.query import QueryPlanner

    idx = build_ivf(embeddings, n_clusters=4, vec_col="embedding",
                    id_col="vec_id", seed=2)
    q0 = [float(x) for x in embeddings.limit(1).collect()[0]["embedding"]]
    req = {
        "query": {"nearest": q0},
        "filter": {"must": [{"key": "label", "match": {"any": [1, 2]}}]},
        "using": "embedding",
        "limit": 5,
    }
    exact = QueryPlanner(embeddings, id_col="vec_id",
                         default_vec_col="embedding")
    accel = QueryPlanner(embeddings, id_col="vec_id",
                         default_vec_col="embedding",
                         indexes={"embedding": [idx]})
    a = [(r["vec_id"], round(r["score"], 6)) for r in exact.plan(req).collect()]
    b = [(r["vec_id"], round(r["score"], 6)) for r in accel.plan(req).collect()]
    assert a == b

    # unfiltered + threshold 1 -> the index route; nprobe 4 == n_clusters
    # is a full probe, so it still equals exact
    req2 = {"query": {"nearest": q0}, "using": "embedding", "limit": 5}
    forced = QueryPlanner(embeddings, id_col="vec_id",
                          default_vec_col="embedding",
                          indexes={"embedding": [idx]},
                          full_scan_threshold=1)
    c = [(r["vec_id"], round(r["score"], 6)) for r in exact.plan(req2).collect()]
    d = [(r["vec_id"], round(r["score"], 6)) for r in forced.plan(req2).collect()]
    assert c == d

    # offset / score_threshold / other vector names keep the exact path
    req3 = dict(req2, offset=2)
    e = [(r["vec_id"], round(r["score"], 6)) for r in exact.plan(req3).collect()]
    f = [(r["vec_id"], round(r["score"], 6)) for r in
         QueryPlanner(embeddings, id_col="vec_id", default_vec_col="embedding",
                      indexes={"embedding": [idx]}).plan(req3).collect()]
    assert e == f

    # mismatched id_col is rejected up front
    with pytest.raises(ValueError):
        QueryPlanner(embeddings, id_col="other", indexes={"embedding": [idx]})


def test_cluster_stats_probe_geometry_correlated_filter(spark):
    """The ACORN-analogue gate (types.rs:629-650): a filter correlated
    with cluster geometry — all matches live in blobs FAR from the query.
    The global-selectivity nprobe boost widens the probe ring around the
    query and finds (almost) nothing; the per-cluster histogram walks
    straight to the matching blobs. Gate: recall >= 0.95 where the global
    boost scores < 0.5."""
    import numpy as np

    from qdrant_spark.operators.ann import build_ivf
    from qdrant_spark.operators.dispatch import (
        auto_search, build_cluster_field_stats, per_cluster_matches,
        select_probe_clusters,
    )
    from qdrant_spark.operators.knn import knn

    rng = np.random.default_rng(7)
    n_blobs, per_blob, dim = 10, 200, 16
    centers = rng.normal(size=(n_blobs, dim)) * 50.0  # far-apart blobs
    rows = []
    vid = 0
    for b in range(n_blobs):
        pts = centers[b] + rng.normal(size=(per_blob, dim))
        for p in pts:
            rows.append((vid, b, [float(x) for x in p]))
            vid += 1
    df = spark.createDataFrame(
        rows, "vec_id: long, label: int, embedding: array<float>")
    idx = build_ivf(df, n_clusters=n_blobs, vec_col="embedding",
                    id_col="vec_id", seed=3, fit_fraction=1.0)
    cstats = build_cluster_field_stats(idx.assigned, ["label"])

    # query sits in blob 0; the filter matches blobs 7/8/9 only (sel=0.3)
    q = [float(x) for x in centers[0] + rng.normal(size=dim) * 0.1]
    flt = {"must": [{"key": "label", "match": {"any": [7, 8, 9]}}]}
    exact = {r["vec_id"] for r in knn(
        df, q, metric="cosine", k=10, vec_col="embedding", id_col="vec_id",
        flt=flt, select=["vec_id", "score"]).collect()}

    kw = dict(k=10, nprobe=1, metric="cosine", flt=flt,
              total=n_blobs * per_blob, full_scan_threshold=1, sample=False)
    got_global = {r["vec_id"] for r in
                  auto_search(idx, q, **kw).collect()}
    got_stats = {r["vec_id"] for r in
                 auto_search(idx, q, cluster_stats=cstats, **kw).collect()}
    recall_global = len(exact & got_global) / len(exact)
    recall_stats = len(exact & got_stats) / len(exact)
    assert recall_stats >= 0.95, (recall_stats, recall_global)
    assert recall_global < 0.5, (recall_stats, recall_global)

    # the stats probe set is also SMALLER than the boosted-global set:
    # zero-match clusters are skipped entirely
    pc = per_cluster_matches(flt, cstats)
    probes = select_probe_clusters(idx.centroids, q, pc, nprobe=1, k=10)
    assert 1 <= len(probes) <= 3
    assert sum(pc.get(c, 0) for c in probes) >= 10

    # unsupported filter shapes decline (fall back to the global boost)
    assert per_cluster_matches(
        {"must": [{"key": "label", "range": {"gt": 5}}]}, cstats) is None
    assert per_cluster_matches(
        {"should": [{"key": "label", "match": {"value": 1}}]}, cstats) is None
    assert per_cluster_matches(
        {"must": [{"key": "other", "match": {"value": 1}}]}, cstats) is None

    # value-exactness: histogram totals equal true counts
    true7 = per_blob
    assert sum(cstats.counts[("label", "7")].values()) == true7


def test_cluster_stats_typed_values_and_arrays(spark):
    """r5 ADVICE: the histogram must not answer 'exact zero' for values
    whose stringification disagrees with the stored type — int-vs-float
    literal alignment, array-typed payload fields, unseen values."""
    from qdrant_spark.operators.dispatch import (
        build_cluster_field_stats, per_cluster_matches,
    )

    df = spark.createDataFrame(
        [(0, 0, 3, 2.5, ["a", "b"], [3, 8]),
         (1, 0, 3, 3.0, ["b"], [8]),
         (2, 1, 4, 2.5, ["a", "a"], [3]),
         (3, 1, 4, 4.5, [], None)],
        "vec_id: long, __cluster: int, li: int, ld: double, "
        "tags: array<string>, nums: array<int>",
    )
    cs = build_cluster_field_stats(
        df, ["li", "ld", "tags", "nums"], n_clusters=2)
    assert cs.field_types == {"li": "int", "ld": "float",
                              "tags": "array_string", "nums": "array_int"}

    def pc(key, **m):
        return per_cluster_matches({"must": [{"key": key, "match": m}]}, cs)

    # float literal 3.0 matches stored int 3 (was: silent zero-match)
    assert pc("li", value=3.0) == {0: 2}
    assert pc("li", value=3) == {0: 2}
    # int literal 3 matches stored double 3.0
    assert pc("ld", value=3) == {0: 1}
    assert pc("ld", value=2.5) == {0: 1, 1: 1}
    # array membership: counts ROWS containing the value, dups collapsed
    assert pc("tags", value="a") == {0: 1, 1: 1}
    assert pc("nums", value=8) == {0: 2}
    # multi-value any on an array field would over-count -> decline
    assert pc("nums", any=[3, 8]) is None
    # value never observed anywhere -> cannot distinguish true-zero from
    # a stringification miss -> decline (fall back to global boost)
    assert pc("li", value=99) is None
    # mixed: one seen + one unseen value stays answerable (unseen adds 0)
    assert pc("li", any=[3, 99]) == {0: 2}
    # ...but NOT for float fields: an unseen float key can be a rendering
    # miss (exponent-form doubles), so a mixed any-list declines rather
    # than undercounting matching mass (r6 ADVICE)
    assert pc("ld", any=[2.5, 99.25]) is None
    assert pc("ld", any=[2.5, 3.0]) == {0: 2, 1: 1}
    # type mismatch (string literal on int field) -> decline
    assert pc("li", value="3") is None
    # uncovered field -> decline
    assert pc("missing", value=1) is None
