"""Sparse search, BM25, dedup suite, and matmul-KNN equivalence tests."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from qdrant_spark.operators.dedup import (
    exact_dedup,
    embedding_near_dups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    simhash_pairs,
)
from qdrant_spark.operators.knn import knn_batch
from qdrant_spark.operators.sparse import bm25_search, doc_terms, sparse_knn, sparse_knn_terms


def _column_window_knn(points, queries, *, metric, k, vec_col, id_col):
    """Batch exact KNN in pure Column math: every (query, point) pair
    scored by an interpreted distance, ranked by one per-qid window."""
    from qdrant_spark.functions.distances import distance
    from qdrant_spark.operators.knn import ranked

    scored = points.crossJoin(F.broadcast(queries)).select(
        "qid", id_col, distance(metric, F.col(vec_col), F.col("qvec")).alias("score"))
    return ranked(scored, metric, k, qid_col="qid", id_col=id_col)


def test_matmul_equals_window(embeddings):
    """The Arrow block-matmul batch equals a pure-Column per-qid window."""
    qdf = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    for metric in ["cosine", "euclid", "manhattan"]:
        kw = dict(metric=metric, k=5, vec_col="embedding", id_col="vec_id")
        a = _column_window_knn(embeddings, qdf, **kw)
        b = knn_batch(embeddings, qdf, **kw)
        ra = [(r["qid"], r["vec_id"], r["rank"]) for r in a.orderBy("qid", "rank").collect()]
        rb = [(r["qid"], r["vec_id"], r["rank"]) for r in b.orderBy("qid", "rank").collect()]
        assert ra == rb, metric
        sa = [r["score"] for r in a.orderBy("qid", "rank").collect()]
        sb = [r["score"] for r in b.orderBy("qid", "rank").collect()]
        for x, y in zip(sa, sb):
            assert x == pytest.approx(y, rel=1e-9)


def test_sparse_knn_struct_layout(spark):
    rows = [
        ("a", [1, 5, 9], [1.0, 2.0, 3.0]),
        ("b", [5, 9], [4.0, 1.0]),
        ("c", [2, 3], [9.0, 9.0]),
    ]
    df = spark.createDataFrame(
        rows, "id: string, sparse_indices: array<int>, sparse_values: array<float>"
    )
    out = sparse_knn(df, [5, 9], [1.0, 1.0], k=3).collect()
    got = [(r["id"], r["score"]) for r in out]
    assert got == [("a", 5.0), ("b", 5.0)]  # c shares no dims -> absent


def test_bm25_matches_python_oracle(documents):
    docs = documents.filter(F.col("doc_id") < 200)
    out = bm25_search(docs, "fast hash", k=5).collect()

    import re

    rows = docs.select("doc_id", "text").collect()
    tok = lambda s: [t for t in re.split(r"[^\w]+", s.lower()) if t]
    corpus = {r["doc_id"]: tok(r["text"]) for r in rows}
    N = len(corpus)
    q = ["fast", "hash"]
    nd = {t: sum(1 for ts in corpus.values() if t in ts) for t in q}
    scores = {}
    for d, ts in corpus.items():
        s = 0.0
        for t in q:
            tf = ts.count(t)
            if tf == 0:
                continue
            idf = math.log((N - nd[t] + 0.5) / (nd[t] + 0.5) + 1.0)
            s += idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * len(ts) / 256.0))
        if s > 0:
            scores[d] = s
    exp = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [(r["doc_id"], pytest.approx(r["score"], rel=1e-9)) for r in out] == exp


def test_lsh_finds_planted_dups(documents):
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            documents.filter(F.col("doc_id") < 100), threshold=0.5
        ).collect()
    }
    assert exact, "testdata should contain planted near-dups"
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            documents.filter(F.col("doc_id") < 100), jaccard_threshold=0.5
        ).collect()
    }
    # LSH with 4 bands x 4 rows catches jaccard>=0.5 pairs w.h.p.
    assert exact <= lsh or len(lsh & exact) / len(exact) >= 0.9


def test_exact_dedup_flags(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different")],
        "doc_id: long, text: string",
    )
    out = {r["doc_id"]: r["is_duplicate"] for r in exact_dedup(df).collect()}
    assert out == {1: False, 2: True, 3: False}  # normalized-equal, keep min id


def test_simhash_pairs_near_identical(spark):
    base = "the quick brown fox jumps over the lazy dog " * 10
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "completely unrelated words here")],
        "doc_id: long, text: string",
    )
    fps = simhash_fingerprints(df)
    pairs = simhash_pairs(fps, max_hamming=8).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_embedding_near_dups_blocked(embeddings):
    out = embedding_near_dups(embeddings, threshold=0.4, block_col="label").collect()
    for r in out:
        assert r["vec_id_a"] < r["vec_id_b"]
        assert r["cos"] >= 0.4


def test_sparse_terms_roundtrip(documents):
    docs = documents.filter(F.col("doc_id") < 50)
    terms = doc_terms(docs)
    q = {r["term"]: float(r["tf"]) for r in terms.filter(F.col("doc_id") == 0).collect()}
    top = sparse_knn_terms(terms, q, k=50).collect()
    scores = {r["doc_id"]: r["score"] for r in top}
    # the query doc's own score is exactly sum(tf^2) (raw TF dot product)
    assert scores[0] == pytest.approx(sum(w * w for w in q.values()))


def test_sparse_knn_batch_handcrafted(spark):
    from qdrant_spark.operators.sparse import sparse_knn_batch

    pts = spark.createDataFrame(
        [
            (1, [0, 2], [1.0, 2.0]),
            (2, [1], [5.0]),
            (3, [0, 1, 2], [1.0, 1.0, 1.0]),
        ],
        "id: long, sparse_indices: array<int>, sparse_values: array<double>",
    )
    qs = spark.createDataFrame(
        [
            (10, [0], [2.0]),       # hits 1 (2.0) and 3 (2.0) -> tie, id asc
            (11, [1, 2], [1.0, 1.0]),  # 1: 2.0, 2: 5.0, 3: 2.0
        ],
        "qid: long, qindices: array<int>, qvalues: array<double>",
    )
    out = sparse_knn_batch(pts, qs, k=2, id_col="id")
    rows = {(r["qid"], r["rank"]): (r["id"], r["score"]) for r in out.collect()}
    assert rows[(10, 1)] == (1, 2.0) and rows[(10, 2)] == (3, 2.0)
    assert rows[(11, 1)] == (2, 5.0) and rows[(11, 2)] == (1, 2.0)


def test_duplicate_components_matches_union_find(spark):
    """Min-label propagation must agree with a python union-find on an
    arbitrary pair graph (chains force multi-round propagation)."""
    from qdrant_spark.operators.dedup import duplicate_components

    pairs = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (4, 5)]
    df = spark.createDataFrame(pairs, "id_a: long, id_b: long")
    got = {r.id: r.component for r in duplicate_components(df).collect()}

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    assert got == want
    # chain 1-2-3-4-5 collapses to component 1
    assert got[5] == 1 and got[22] == 20


def test_resolve_duplicates_keeps_min_id(spark, documents):
    from qdrant_spark.operators.dedup import (
        minhash_lsh_pairs, resolve_duplicates,
    )

    pairs = minhash_lsh_pairs(documents, jaccard_threshold=0.3)
    out = resolve_duplicates(documents, pairs, id_col="doc_id")
    assert out.count() == documents.count()
    rows = out.select("doc_id", "component", "is_duplicate").collect()
    by_comp: dict = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    for comp, members in by_comp.items():
        assert comp == min(m.doc_id for m in members)
        for m in members:
            assert m.is_duplicate == (m.doc_id != comp)


def test_components_distributed_path_agrees_with_union_find(spark):
    """Force the iterative path (driver_threshold=0) and check it matches
    the union-find fast path on the same graph."""
    from qdrant_spark.operators.dedup import duplicate_components

    pairs = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (4, 5)]
    df = spark.createDataFrame(pairs, "id_a: long, id_b: long")
    fast = {(r.id, r.component)
            for r in duplicate_components(df).collect()}
    dist = {(r.id, r.component)
            for r in duplicate_components(df, driver_threshold=0).collect()}
    assert fast == dist


def test_lsh_bucket_cap_drops_degenerate_bucket(spark):
    """max_bucket_size: a boilerplate corpus where every doc is identical
    collapses into one giant bucket; the cap drops it (recall/cost knob),
    while distinct small clusters survive."""
    from qdrant_spark.operators.dedup import minhash_lsh_pairs

    boiler = [(i, "the same exact boilerplate text repeated endlessly here")
              for i in range(20)]
    pair_ab = [(100, "a unique story about spark partitions and shuffles"),
               (101, "a unique story about spark partitions and shuffle")]
    df = spark.createDataFrame(boiler + pair_ab, "doc_id: long, text: string")

    uncapped = minhash_lsh_pairs(df, jaccard_threshold=0.3)
    assert uncapped.filter("id_a < 100").count() == 20 * 19 // 2

    capped = minhash_lsh_pairs(df, jaccard_threshold=0.3, max_bucket_size=10)
    rows = capped.collect()
    # the 20-doc degenerate bucket is dropped entirely...
    assert all(r.id_a >= 100 for r in rows)
    # ...but the small genuine near-dup pair is still found
    assert {(r.id_a, r.id_b) for r in rows} == {(100, 101)}


def test_components_driver_probe_is_single_job(spark):
    """The driver-path strategy probe must evaluate the pair pipeline ONCE
    (limit+collect), not count()+collect(). An accumulator inside the
    pipeline counts row evaluations."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from qdrant_spark.operators.dedup import duplicate_components

    acc = spark.sparkContext.accumulator(0)

    @F.udf(T.LongType())
    def tick(x):
        acc.add(1)
        return x

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a: long, id_b: long"
    ).withColumn("id_a", tick(F.col("id_a")))
    got = {r.id: r.component for r in duplicate_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert acc.value == 3  # one evaluation of the 3-row pipeline


def test_components_nonconvergence_warns(spark):
    """A chain longer than max_iter must not silently return split
    components (ADVICE): the distributed path warns on non-convergence."""
    import warnings

    from qdrant_spark.operators.dedup import duplicate_components

    chain = [(i, i + 1) for i in range(8)]
    df = spark.createDataFrame(chain, "id_a: long, id_b: long")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        duplicate_components(df, driver_threshold=0, max_iter=2).collect()
    assert any("SPLIT" in str(x.message) for x in w)


def test_paragraph_dedup_first_occurrence_wins(spark):
    from qdrant_spark.operators.dedup import paragraph_dedup

    rows = [
        (0, "unique zero\nshared line\nalso zero"),
        (1, "shared line\nunique one"),          # "shared line" seen in doc 0
        (2, "shared line\nshared line\nunique two"),  # in-doc repeat too
        (3, "\n\nunique three"),                 # blank lines bypass dedup
    ]
    out = {r.doc_id: r for r in
           paragraph_dedup(spark.createDataFrame(rows, ["doc_id", "text"]))
           .collect()}
    assert out[0].text_clean == "unique zero\nshared line\nalso zero"
    assert out[0].n_removed == 0
    assert out[1].text_clean == "unique one" and out[1].n_removed == 1
    assert out[2].text_clean == "unique two" and out[2].n_removed == 2
    # blank paragraphs are kept everywhere (min_chars guard)
    assert out[3].text_clean == "\n\nunique three" and out[3].n_removed == 0
    assert out[2].n_paras == 3


def test_paragraph_dedup_all_removed_doc_survives(spark):
    from qdrant_spark.operators.dedup import paragraph_dedup

    rows = [(0, "only line"), (1, "only line")]
    out = {r.doc_id: r for r in
           paragraph_dedup(spark.createDataFrame(rows, ["doc_id", "text"]))
           .collect()}
    assert out[0].text_clean == "only line"
    assert out[1].text_clean == "" and out[1].n_removed == 1


def test_substring_dup_spans_finds_shared_passages(spark):
    from qdrant_spark.operators.dedup import substring_dup_spans

    licence = ("this software is provided as is without warranty of any kind "
               "express or implied including but not limited to the warranties "
               "of merchantability fitness for a particular purpose and "
               "noninfringement in no event shall the authors be liable")
    rows = [
        (0, licence + " document zero body text that is completely unique"),
        (1, licence + " and a different continuation for document one here"),
        (2, "entirely unrelated content with no shared passages at all "
            "just some distinctive words nobody else repeats anywhere else "
            "in the corpus so every window of this text must hash uniquely"),
    ]
    out = {r.doc_id: r for r in
           substring_dup_spans(spark.createDataFrame(rows, ["doc_id", "text"]),
                               window=64, stride=32).collect()}
    # the shared licence header marks duplicated spans in docs 0 and 1
    assert out[0].n_dup_spans > 0 and out[1].n_dup_spans > 0
    assert out[2].n_dup_spans == 0 and out[2].dup_span_frac == 0.0
    # the unique tails of docs 0/1 are NOT flagged
    assert out[0].n_dup_spans < out[0].n_spans


def test_substring_dup_spans_short_and_empty_docs(spark):
    from qdrant_spark.operators.dedup import substring_dup_spans

    rows = [(0, "short"), (1, "short"), (2, "other brief"), (3, "")]
    out = {r.doc_id: r for r in
           substring_dup_spans(spark.createDataFrame(rows, ["doc_id", "text"]),
                               window=64, stride=32).collect()}
    # identical short docs collapse to one window each and flag each other
    assert out[0].n_spans == 1 and out[0].n_dup_spans == 1
    assert out[1].n_dup_spans == 1
    assert out[2].n_dup_spans == 0
    assert out[3].n_spans == 1  # empty doc still yields its (empty) window


def test_lsh_cross_finds_contamination_only_across_sides(spark):
    from qdrant_spark.operators.dedup import minhash_lsh_pairs_cross

    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "watches from the fence and birds sing in the morning light")
    train = spark.createDataFrame(
        [(0, base), (1, "completely different content about numerical "
                        "linear algebra and matrix decompositions for "
                        "solving large sparse systems of equations")],
        ["doc_id", "text"])
    bench = spark.createDataFrame(
        [(100, base + " extra tail words"),  # near-dup of train doc 0
         (101, "unrelated benchmark question about geography and rivers "
               "flowing through continental landmasses toward the ocean")],
        ["doc_id", "text"])
    pairs = minhash_lsh_pairs_cross(train, bench,
                                    jaccard_threshold=0.3).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 100)}
    assert all(r.jaccard >= 0.3 for r in pairs)


def test_lsh_params_s_curve_properties():
    """Higher thresholds pick more rows per band (steeper curve further
    right); the curve midpoint (1/b)^(1/r) lands near the threshold; and
    invalid inputs raise."""
    import pytest

    from qdrant_spark.operators.dedup import lsh_params

    picks = {}
    for t in (0.2, 0.5, 0.8):
        b, r = lsh_params(128, t)
        assert b * r == 128
        mid = (1.0 / b) ** (1.0 / r)
        assert abs(mid - t) < 0.25, (t, b, r, mid)
        picks[t] = r
    assert picks[0.2] <= picks[0.5] <= picks[0.8]
    assert picks[0.2] < picks[0.8]
    # weighting false POSITIVES higher steepens the curve rightward:
    # more rows per band than the balanced pick (and vice versa)
    b_bal, r_bal = lsh_params(64, 0.5)
    _, r_fp_averse = lsh_params(64, 0.5, fp_weight=0.9)
    _, r_fn_averse = lsh_params(64, 0.5, fp_weight=0.1)
    assert r_fn_averse <= r_bal <= r_fp_averse
    with pytest.raises(ValueError):
        lsh_params(128, 0.0)
    with pytest.raises(ValueError):
        lsh_params(1, 0.5)


def test_lsh_prebuilt_signatures_identical(documents):
    """Supplying ingest-time signatures (and shingles) yields the same
    pairs as the self-contained pipeline."""
    from qdrant_spark.operators.dedup import (
        minhash_lsh_pairs, minhash_signatures, with_shingles,
    )

    docs = documents.limit(150)
    base = sorted((r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in
                  minhash_lsh_pairs(docs, n_perms=16, bands=4,
                                    jaccard_threshold=0.2).collect())
    sh = with_shingles(docs)
    sig = minhash_signatures(docs, n_perms=16)
    pre = sorted((r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in
                 minhash_lsh_pairs(docs, n_perms=16, bands=4,
                                   jaccard_threshold=0.2,
                                   shingles=sh, signatures=sig).collect())
    assert base == pre and len(base) > 0


def test_bm25_persisted_bucketed_index_equals_in_memory(spark, documents, tmp_path):
    """persist_bm25_index: the term-bucket-partitioned on-disk index must
    return the exact in-memory results, the query plan must prune to the
    query terms' buckets (PartitionFilters), and the python bucket twin
    must agree with the Spark column."""
    from qdrant_spark.functions.hashes import token_hash63, token_hash63_py
    from qdrant_spark.operators.sparse import (
        bm25_search_index, build_bm25_index, load_bm25_index,
        persist_bm25_index)

    docs = documents.filter(F.col("doc_id") < 300)
    mem_idx = build_bm25_index(docs)
    disk_idx = persist_bm25_index(mem_idx, str(tmp_path / "bm25"), buckets=16)
    assert disk_idx.term_buckets == 16 and disk_idx.n_docs == mem_idx.n_docs

    q = "fast hash join"
    want = [(r["doc_id"], round(r["score"], 6))
            for r in bm25_search_index(mem_idx, q, k=8).collect()]
    got_df = bm25_search_index(disk_idx, q, k=8)
    got = [(r["doc_id"], round(r["score"], 6)) for r in got_df.collect()]
    assert got == want

    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "__tb" in plan

    # reload path round-trips the meta
    re_idx = load_bm25_index(spark, str(tmp_path / "bm25"))
    got2 = [(r["doc_id"], round(r["score"], 6))
            for r in bm25_search_index(re_idx, q, k=8).collect()]
    assert got2 == want

    # python twin == Spark column (the pruning predicate's correctness)
    terms = [r["term"] for r in
             mem_idx.postings.select("term").distinct().limit(50).collect()]
    tdf = spark.createDataFrame([(t,) for t in terms], "term string")
    spark_h = {r["term"]: r["h"] for r in
               tdf.select("term", token_hash63(F.col("term")).alias("h")).collect()}
    for t in terms:
        assert token_hash63_py(t) == spark_h[t]


def test_sparse_persisted_index_equals_inline(spark, documents, tmp_path):
    """Persisted dim-bucketed sparse index: same scores as sparse_knn on
    the source table; the query's dims become PartitionFilters."""
    from qdrant_spark.functions.hashes import token_hash63
    from qdrant_spark.operators.sparse import (
        build_sparse_index, doc_terms, persist_sparse_index, sparse_knn,
        sparse_knn_index)

    docs = documents.filter(F.col("doc_id") < 300)
    h = doc_terms(docs).withColumn("dim", token_hash63(F.col("term")))
    sv = (h.groupBy("doc_id")
          .agg(F.sort_array(F.collect_list(F.struct("dim", "tf"))).alias("ps"))
          .select("doc_id", F.col("ps.dim").alias("sparse_indices"),
                  F.col("ps.tf").cast("array<double>").alias("sparse_values")))
    q = sv.filter(F.col("doc_id") == 5).collect()[0]
    qi, qv = list(q["sparse_indices"]), list(q["sparse_values"])

    want = [(r["doc_id"], round(r["score"], 6))
            for r in sparse_knn(sv, qi, qv, k=7, id_col="doc_id").collect()]
    idx = persist_sparse_index(build_sparse_index(sv, id_col="doc_id"),
                               str(tmp_path / "sx"), buckets=32)
    out = sparse_knn_index(idx, qi, qv, k=7)
    got = [(r["doc_id"], round(r["score"], 6)) for r in out.collect()]
    assert got == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "__db" in plan


def test_planner_routes_sparse_leaf_through_index(spark):
    """A sparse `nearest` leaf on a column with a registered SparseIndex
    routes through the inverted index (search_context.rs:37-91): identical
    (id, score) to the scan path, filters become a candidate semi-join,
    and params.exact opts back out to the scan."""
    from qdrant_spark.operators.sparse import build_sparse_index
    from qdrant_spark.query import QueryPlanner

    rows = [(i, [i % 4, 50], [1.0, 0.1 * i], "a" if i % 2 else "b")
            for i in range(1, 21)]
    df = spark.createDataFrame(
        rows, "id: long, sparse_indices: array<int>, "
              "sparse_values: array<double>, tag: string")
    idx = build_sparse_index(df, id_col="id")
    req = {"query": {"nearest": {"indices": [2, 50],
                                 "values": [1.0, 2.0]}}, "limit": 8}
    plain = QueryPlanner(df, id_col="id")
    routed = QueryPlanner(df, id_col="id",
                          indexes={"vec": [idx]})
    want = [(r["id"], round(r["score"], 9)) for r in plain.plan(req).collect()]
    got = [(r["id"], round(r["score"], 9)) for r in routed.plan(req).collect()]
    assert got == want
    assert routed.last_plan_info.get("sparse_index_leaves") == 1

    freq = {**req, "filter": {"must": [{"key": "tag",
                                        "match": {"value": "a"}}]}}
    fwant = [(r["id"], round(r["score"], 9))
             for r in plain.plan(freq).collect()]
    fgot = [(r["id"], round(r["score"], 9))
            for r in routed.plan(freq).collect()]
    assert fgot == fwant and all(i % 2 for i, _ in fgot)

    exact = {**req, "params": {"exact": True}}
    routed.plan(exact)
    assert not routed.last_plan_info.get("sparse_index_leaves")


def test_embedding_near_dups_unblocked_guard(spark, embeddings, monkeypatch):
    """Without block_col the operator refuses a large input instead of
    silently planning an O(n^2) cross join (r8 VERDICT item 4); small
    inputs still run, and the blocked path is never size-guarded."""
    import qdrant_spark.operators.dedup as D
    from qdrant_spark.operators.dedup import embedding_near_dups

    # small input: allowed (the bounded-slice documented use)
    small = embeddings.filter(F.col("vec_id") < 50)
    assert embedding_near_dups(small, threshold=0.0).count() > 0
    # force the guard low: the same call must refuse
    monkeypatch.setattr(D, "_CROSS_JOIN_MAX_BYTES", 0)
    with pytest.raises(ValueError, match="block_col"):
        embedding_near_dups(small, threshold=0.0)
    # blocked path unaffected by the guard
    blocked = embedding_near_dups(
        small.withColumn("blk", F.col("vec_id") % 4),
        threshold=0.0, block_col="blk")
    assert blocked.count() > 0


def test_query_batch_groups_sparse_through_index(spark):
    """query_batch answers >=2 unfiltered sparse requests on an indexed
    column with ONE sparse_knn_index_batch scan; per-request results are
    value-identical to planning each alone (and to the unrouted scans)."""
    from qdrant_spark.operators import sparse as SP
    from qdrant_spark.operators.sparse import build_sparse_index
    from qdrant_spark.query import query_batch

    rows = [(i, [i % 5, 77], [1.0, 0.2 * i]) for i in range(1, 31)]
    df = spark.createDataFrame(
        rows, "id: long, sparse_indices: array<long>, "
              "sparse_values: array<double>")
    idx = build_sparse_index(df, id_col="id")
    reqs = [
        {"query": {"nearest": {"indices": [1, 77], "values": [1.0, 1.0]}},
         "limit": 4},
        {"query": {"nearest": {"indices": [2, 77], "values": [2.0, 0.5]}},
         "limit": 3},
        {"query": {"nearest": {"indices": [3], "values": [1.0]}},
         "limit": 5},
    ]
    want = query_batch(df, [dict(r) for r in reqs], id_col="id").collect()

    calls = []
    orig = SP.sparse_knn_index_batch
    SP.sparse_knn_index_batch = \
        lambda *a, **k: calls.append(1) or orig(*a, **k)
    try:
        got = query_batch(df, [dict(r) for r in reqs], id_col="id",
                          indexes={"vec": [idx]}).collect()
    finally:
        SP.sparse_knn_index_batch = orig
    assert len(calls) == 1  # one batched index scan for all 3 requests
    key = lambda r: (r["request_idx"], r["id"])  # noqa: E731
    assert sorted(((r["request_idx"], r["id"], round(r["score"], 9))
                   for r in got)) == \
        sorted(((r["request_idx"], r["id"], round(r["score"], 9))
                for r in want))


def test_query_batch_sparse_group_offset_threshold(spark):
    """Per-request offset and score_threshold survive the batched
    index-scan grouping (r9 ADVICE high: eligibility checked prefetch/
    shard_key/filter/exact but not offset, so offset>0 requests got rows
    from rank 0). Results must match planning each request alone."""
    from qdrant_spark.operators import sparse as SP
    from qdrant_spark.operators.sparse import build_sparse_index
    from qdrant_spark.query import query_batch

    rows = [(i, [5, 77], [float(i), 0.1]) for i in range(1, 21)]
    df = spark.createDataFrame(
        rows, "id: long, sparse_indices: array<long>, "
              "sparse_values: array<double>")
    idx = build_sparse_index(df, id_col="id")
    reqs = [
        {"query": {"nearest": {"indices": [5], "values": [1.0]}},
         "limit": 3, "offset": 4},
        {"query": {"nearest": {"indices": [5], "values": [1.0]}},
         "limit": 3},
        {"query": {"nearest": {"indices": [5], "values": [1.0]}},
         "limit": 10, "score_threshold": 15.0},
    ]
    # single-request plans through the SAME index routing = ground truth
    want = query_batch(df, [dict(reqs[0])], id_col="id",
                       indexes={"vec": [idx]}).collect()
    assert sorted((r["id"], r["score"]) for r in want) == \
        [(14, 14.0), (15, 15.0), (16, 16.0)]  # ranks 5..7 of 20..1

    calls = []
    orig = SP.sparse_knn_index_batch
    SP.sparse_knn_index_batch = \
        lambda *a, **k: calls.append(k.get("k") or a[-1]) or orig(*a, **k)
    try:
        got = query_batch(df, [dict(r) for r in reqs], id_col="id",
                          indexes={"vec": [idx]}).collect()
    finally:
        SP.sparse_knn_index_batch = orig
    assert len(calls) == 1  # still ONE batched scan for all 3 requests
    by_req = {}
    for r in got:
        by_req.setdefault(r["request_idx"], []).append((r["id"], r["score"]))
    assert sorted(by_req[0]) == [(14, 14.0), (15, 15.0), (16, 16.0)]
    assert sorted(by_req[1]) == [(18, 18.0), (19, 19.0), (20, 20.0)]
    # threshold 15.0 keeps scores STRICTLY > 15 (check_threshold,
    # types.rs:364-369): ids 16..20
    assert sorted(by_req[2]) == [(i, float(i)) for i in range(16, 21)]


def test_planner_sparse_leaf_score_threshold(spark):
    """score_threshold applies to sparse nearest leaves on BOTH the
    exploded-scan path and the index-routed path (r9 ADVICE low: it was
    silently dropped; the reference thresholds sparse like dense)."""
    from qdrant_spark.operators.sparse import build_sparse_index
    from qdrant_spark.query import QueryPlanner

    rows = [(i, [5], [float(i)]) for i in range(1, 11)]
    df = spark.createDataFrame(
        rows, "id: long, sparse_indices: array<long>, "
              "sparse_values: array<double>")
    req = {"query": {"nearest": {"indices": [5], "values": [1.0]}},
           "limit": 8, "score_threshold": 7.0}
    for pl in (QueryPlanner(df, id_col="id"),
               QueryPlanner(df, id_col="id",
                            indexes={"vec": [
                                build_sparse_index(df, id_col="id")]})):
        got = sorted((r["id"], r["score"]) for r in pl.plan(req).collect())
        # strict threshold (check_threshold, types.rs:364-369): 7.0 excluded
        assert got == [(8, 8.0), (9, 9.0), (10, 10.0)]


def test_sparse_index_batch_prunes_partitions(spark, tmp_path):
    """The batched index scan reads only the union of the queries' dim
    buckets (PartitionFilters on __db), like the single-query path."""
    from qdrant_spark.operators.sparse import (
        build_sparse_index, persist_sparse_index, sparse_knn_index_batch)

    rows = [(i, [i % 7, 99], [1.0, float(i)]) for i in range(1, 50)]
    df = spark.createDataFrame(
        rows, "id: long, sparse_indices: array<long>, "
              "sparse_values: array<double>")
    idx = persist_sparse_index(build_sparse_index(df, id_col="id"),
                               str(tmp_path / "sx"), buckets=16)
    out = sparse_knn_index_batch(
        idx, [(0, [1, 99], [1.0, 1.0]), (1, [2], [1.0])], k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "__db" in plan
    import re
    pf = re.search(r"PartitionFilters: \[[^\]]*\]", plan).group(0)
    # union of dims {1, 99, 2} % 16 = {1, 3, 2}
    assert "1,2,3" in pf.replace(" ", "")


def test_planner_sparse_leaf_applies_offset(spark):
    """offset on a sparse nearest request skips the first rows of the
    ranking (both the scan path and the index-routed path ignored it
    before r9)."""
    from qdrant_spark.operators.sparse import build_sparse_index
    from qdrant_spark.query import QueryPlanner

    rows = [(i, [5], [float(i)]) for i in range(1, 11)]
    df = spark.createDataFrame(
        rows, "id: long, sparse_indices: array<long>, "
              "sparse_values: array<double>")
    req = {"query": {"nearest": {"indices": [5], "values": [1.0]}},
           "limit": 3, "offset": 2}
    for pl in (QueryPlanner(df, id_col="id"),
               QueryPlanner(df, id_col="id",
                            indexes={"vec": [
                                build_sparse_index(df, id_col="id")]})):
        got = [(r["id"], r["score"]) for r in pl.plan(req).collect()]
        assert got == [(8, 8.0), (7, 7.0), (6, 6.0)]


def test_embedding_near_dups_ivf_autoblocks(spark):
    """SemDeDup shape: IVF clusters as the block column. Two well-
    separated groups with planted near-identical pairs inside each — the
    pairs are found, and no cross-group pair is ever emitted (cosine of
    orthogonal-ish groups would fail the threshold anyway; the point is
    the plan never compares them)."""
    import numpy as np

    from qdrant_spark.operators.dedup import embedding_near_dups_ivf

    rng = np.random.default_rng(5)
    rows = []
    for g, base_dir in enumerate((np.array([1.0, 0, 0, 0]),
                                  np.array([0, 0, 0, 1.0]))):
        first = None
        for i in range(30):
            v = base_dir * 10 + rng.normal(scale=0.5, size=4)
            if first is None:
                first = v
            rows.append((g * 100 + i, [float(x) for x in v]))
        # planted near-dup of the group's first member
        rows.append((g * 100 + 90, [float(x) for x in first * 1.001]))
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    pairs = embedding_near_dups_ivf(df, threshold=0.9999, n_clusters=2,
                                    id_col="vec_id", vec_col="embedding")
    got = {(r["vec_id_a"], r["vec_id_b"]) for r in pairs.collect()}
    assert (0, 90) in got and (100, 190) in got
    assert all((a < 100) == (b < 100) for a, b in got)  # never cross-group
