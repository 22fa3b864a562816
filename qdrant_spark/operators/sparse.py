"""Sparse-vector search: inverted-index scoring, BM25 embedding, IDF.

Reference semantics:
- sparse KNN = dot product over (indices, values) pairs, searched via an
  inverted index (lib/sparse/src/index/search_context.rs:37-91; posting
  lists pruned by max_next_weight). Over the points table the exact leaf
  scores row-wise (:func:`sparse_knn`: one fold per row, then a top-k
  sort). A prebuilt index IS the exploded (id, dim, value) DataFrame: a
  query becomes a broadcast join on dim + groupBy(id) sum — the classic
  SQL inverted-index plan. At 100 TB the pairs table is partitioned by
  dim bucket so each query term touches one partition (posting list
  locality for free).
- BM25 embedding (lib/bm25/src/lib.rs:19-166): tf component
  tf*(k1+1) / (tf + k1*(1 - b + b*doc_len/avg_doc_len)), defaults k1=1.2,
  b=0.75, avg_doc_len=256; token ids via murmur3 in the reference — we use
  the md5-derived token_hash63 (functions/hashes.py) so DuckDB oracles can
  reproduce ids.
- IDF modifier (lib/segment/src/data_types/modifier.rs:13-17; sparse idf in
  lib/segment/src/index/sparse_index/): idf(t) = ln((N - n(t) + 0.5) /
  (n(t) + 0.5) + 1), applied to query values at search time.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from qdrant_spark.filters import apply_filter
from qdrant_spark.functions.text import tokenize
from qdrant_spark.session import local_df

BM25_K1 = 1.2
BM25_B = 0.75
BM25_AVG_DOC_LEN = 256.0


def doc_terms(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    flt: dict[str, Any] | None = None,
) -> DataFrame:
    """Inverted index as a DataFrame: (id, term, tf). This is the sparse
    engine's storage layout; persist bucketed by term at scale."""
    df = apply_filter(docs, flt)
    toks = tokenize(F.col(text_col))
    return (
        df.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )


def idf_df(terms: DataFrame, n_docs: int, id_col: str = "doc_id") -> DataFrame:
    """(term, idf) with the BM25 idf convention used by the reference."""
    n = F.countDistinct(id_col).alias("nd")
    df = terms.groupBy("term").agg(n)
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("nd") + F.lit(0.5)) / (F.col("nd") + F.lit(0.5))
        + F.lit(1.0)
    )
    return df.select("term", idf.alias("idf"))


def sparse_knn_terms(
    terms: DataFrame,
    query_terms: dict[str, float],
    *,
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Sparse dot-product top-k over the (id, term, tf) inverted index.

    The query is a tiny DataFrame broadcast onto the terms table — only
    posting lists of query terms are read (predicate pushdown on the join
    key after AQE converts it to a broadcast join)."""
    spark = terms.sparkSession
    # LocalRelation query frame (r14): broadcast builds driver-side with
    # no python-RDD job per execution — see session.local_df
    q = local_df(
        spark,
        [(t, float(w)) for t, w in query_terms.items()], "term: string, qw: double"
    )
    scored = (
        terms.join(F.broadcast(q), "term")
        .groupBy(id_col)
        .agg(F.sum(F.col("tf") * F.col("qw")).alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def sparse_knn(
    points: DataFrame,
    query_indices: list[int],
    query_values: list[float],
    *,
    k: int = 10,
    id_col: str = "id",
    indices_col: str = "sparse_indices",
    values_col: str = "sparse_values",
    flt: dict[str, Any] | None = None,
    select: list[str] | None = None,
) -> DataFrame:
    """Sparse KNN over (indices array<int/long>, values array<float>)
    columns — the qdrant SparseVector layout: the dot product with the
    query (lib/sparse/src/common/sparse_vector.rs) over every row that
    shares a dimension with it, ``k`` best first (score desc, id asc).

    Each row scores in ONE projection, a fold of its (dim, value) pairs
    through the query's dim -> weight map, so the plan is a scan and a
    top-k sort (``TakeOrderedAndProject``: k rows leave each task, one
    job, no shuffle). ``select`` names the output columns (default
    (id, score)); payload columns listed there ride through the top-k
    with the score. Duplicate query dims sum their weights. The indexed
    route, :func:`sparse_knn_index`, scores the same pairs through the
    posting lists instead."""
    from qdrant_spark.functions.distances import vec_lit

    weights: dict[int, float] = {}
    for d, v in zip(query_indices, query_values):
        weights[int(d)] = weights.get(int(d), 0.0) + float(v)
    if weights:
        qmap = F.map_from_arrays(
            F.expr("array(" + ", ".join(f"{d}L" for d in weights) + ")"),
            vec_lit(list(weights.values())))
        dims = F.col(indices_col).cast("array<bigint>")
        pairs = F.arrays_zip(
            dims.alias("dim"), F.col(values_col).cast("array<double>").alias("v"))
        score = F.aggregate(pairs, F.lit(0.0), lambda acc, p: acc + F.coalesce(
            F.element_at(qmap, p["dim"]), F.lit(0.0)) * p["v"])
        shares = F.exists(dims, lambda d: F.map_contains_key(qmap, d))
    else:
        score, shares = F.lit(0.0), F.lit(False)
    out_cols = select if select is not None else [id_col, "score"]
    return (apply_filter(points, flt).filter(shares)
            .select(*[score.alias("score") if c == "score" else c
                      for c in out_cols])
            .orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k))


@dataclass
class SparseIndex:
    """Persisted inverted index over sparse vectors: the exploded
    (id, dim, v) pairs table, optionally DIM-BUCKET-partitioned on disk.

    The reference stores one posting list per dimension and a search
    touches only the query's dimensions
    (lib/sparse/src/index/inverted_index/inverted_index_ram.rs,
    inverted_index_mmap.rs). The parquet analogue: partition the pairs
    by ``dim % buckets``; the query's dims are driver-side literals, so
    :func:`sparse_knn_index` emits a ``__db IN (...)`` predicate that
    Spark resolves as PartitionFilters — only the query dims' directories
    are opened."""

    pairs: DataFrame
    id_col: str
    dim_buckets: int | None = None


def _explode_pairs(df: DataFrame, id_col: str, indices_col: str,
                   values_col: str) -> DataFrame:
    return df.select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                F.col(indices_col).alias("dim"),
                F.col(values_col).cast("array<double>").alias("v"),
            )
        ).alias("p"),
    ).select(id_col, F.col("p.dim").cast("long").alias("dim"),
             F.col("p.v").alias("v"))


def build_sparse_index(
    points: DataFrame,
    *,
    id_col: str = "id",
    indices_col: str = "sparse_indices",
    values_col: str = "sparse_values",
    flt: dict[str, Any] | None = None,
) -> SparseIndex:
    """One explode pass over the (indices, values) columns — the
    ingest-time cost the reference pays building its inverted index."""
    df = apply_filter(points, flt)
    return SparseIndex(
        pairs=_explode_pairs(df, id_col, indices_col, values_col),
        id_col=id_col,
    )


def persist_sparse_index(
    index: SparseIndex, path: str, *, buckets: int = 256,
) -> SparseIndex:
    """Write the pairs dim-bucket-partitioned and reload (see
    :class:`SparseIndex`)."""
    spark = index.pairs.sparkSession
    pairs = index.pairs.withColumn(
        "__db", F.pmod(F.col("dim"), F.lit(buckets)).cast("int"))
    (pairs.repartition(buckets, "__db")
        .write.mode("overwrite").partitionBy("__db")
        .parquet(f"{path}/pairs"))
    meta = spark.createDataFrame(
        [(index.id_col, int(buckets))], "id_col string, buckets int")
    meta.coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    return load_sparse_index(spark, path)


def load_sparse_index(spark, path: str) -> SparseIndex:
    m = spark.read.parquet(f"{path}/meta").collect()[0]
    return SparseIndex(
        pairs=spark.read.parquet(f"{path}/pairs"),
        id_col=m["id_col"], dim_buckets=int(m["buckets"]),
    )


def sparse_knn_index(
    index: SparseIndex,
    query_indices: list[int],
    query_values: list[float],
    *,
    k: int = 10,
    cand: DataFrame | None = None,
) -> DataFrame:
    """Sparse dot-product top-k over a prebuilt (optionally persisted)
    inverted index; identical results to :func:`sparse_knn` on the source
    table. On a persisted index the query dims prune partitions.

    ``cand`` restricts scoring to a candidate id frame (one column named
    like ``index.id_col``): the filtered-search path — posting lists are
    still pruned to the query dims first, then semi-joined against the
    candidates, the same order the reference's filtered sparse search
    applies (search_context.rs: posting iterators + filter check per id)."""
    spark = index.pairs.sparkSession
    pairs = index.pairs
    if index.dim_buckets:
        dbs = sorted({int(i) % index.dim_buckets for i in query_indices})
        pairs = pairs.filter(F.col("__db").isin(dbs))
    if cand is not None:
        pairs = pairs.join(cand.select(index.id_col), index.id_col,
                           "left_semi")
    q = local_df(
        spark,
        list(zip([int(i) for i in query_indices],
                 [float(v) for v in query_values])),
        "dim: long, qv: double",
    )
    scored = (
        pairs.join(F.broadcast(q), "dim")
        .groupBy(index.id_col)
        .agg(F.sum(F.col("v") * F.col("qv")).alias("score"))
    )
    return scored.orderBy(F.col("score").desc(),
                          F.col(index.id_col).asc()).limit(k)


def sparse_knn_batch(
    points: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "id",
    indices_col: str = "sparse_indices",
    values_col: str = "sparse_values",
    qid_col: str = "qid",
    q_indices_col: str = "qindices",
    q_values_col: str = "qvalues",
    flt: dict[str, Any] | None = None,
) -> DataFrame:
    """Batched sparse KNN: every query row scores against the corpus in ONE
    inverted-index join (the reference batches sparse searches the same way
    its dense path does, lib/shard/src/search.rs).

    Plan: corpus explodes once to (id, dim, v) — at scale this is the
    materialized index, bucketed by dim — queries explode to (qid, dim,
    qv) and broadcast; join on dim, partial-agg sum(v*qv) per (qid, id),
    per-query top-k window. One corpus-side shuffle regardless of batch
    size — batch amortizes the scan, which is the whole point at 100 TB."""
    df = apply_filter(points, flt)
    pairs = df.select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                F.col(indices_col).alias("dim"),
                F.col(values_col).cast("array<double>").alias("v"),
            )
        ).alias("p"),
    ).select(id_col, F.col("p.dim").cast("long").alias("dim"), F.col("p.v").alias("v"))
    q_pairs = queries.select(
        F.col(qid_col),
        F.explode(
            F.arrays_zip(
                F.col(q_indices_col).alias("dim"),
                F.col(q_values_col).cast("array<double>").alias("qv"),
            )
        ).alias("p"),
    ).select(qid_col, F.col("p.dim").cast("long").alias("dim"), F.col("p.qv").alias("qv"))
    scored = (
        pairs.join(F.broadcast(q_pairs), "dim")
        .groupBy(qid_col, id_col)
        .agg(F.sum(F.col("v") * F.col("qv")).alias("score"))
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def sparse_knn_index_batch(
    index: SparseIndex,
    queries: list[tuple[Any, list[int], list[float]]],
    *,
    k: int = 10,
) -> DataFrame:
    """Batched sparse top-k over a prebuilt inverted index: ONE scan of
    the union of every query's dim buckets answers the whole batch (the
    reference's batch dispatch walks its posting lists once per term for
    the whole request set). ``queries`` is driver-side
    ``[(qid, indices, values), ...]``; returns (qid, id, score) rows,
    per-qid top-k ranked score desc, id asc — identical per query to
    :func:`sparse_knn_index`."""
    spark = index.pairs.sparkSession
    pairs = index.pairs
    if index.dim_buckets:
        dbs = sorted({int(d) % index.dim_buckets
                      for _, dims, _ in queries for d in dims})
        pairs = pairs.filter(F.col("__db").isin(dbs))
    q = local_df(
        spark,
        [(qid, int(d), float(v)) for qid, dims, vals in queries
         for d, v in zip(dims, vals)],
        "qid: long, dim: long, qv: double",
    )
    scored = (
        pairs.join(F.broadcast(q), "dim")
        .groupBy("qid", index.id_col)
        .agg(F.sum(F.col("v") * F.col("qv")).alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col(index.id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k).drop("rank"))


def bm25_tf(tf: Column, dl: Column, k1: float = BM25_K1, b: float = BM25_B,
            avg_doc_len: float = BM25_AVG_DOC_LEN) -> Column:
    """BM25 tf component (lib/bm25/src/lib.rs:19-50)."""
    return (tf * (k1 + 1.0)) / (
        tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avg_doc_len))
    )


@dataclass
class Bm25Index:
    """Materialized text index: denormalized postings ``(id, term, tf, dl)``.

    The doc length rides along inside the single build shuffle (it's a
    pre-explode column carried through the groupBy keys), so query-time
    scoring needs NO join back to the documents — the posting row is
    self-sufficient, exactly like the reference's posting lists which store
    everything scoring needs (lib/sparse/src/index/search_context.rs).
    Persist bucketed by ``term`` at scale; queries then touch only the
    posting lists of their own terms."""

    postings: DataFrame
    n_docs: int
    id_col: str
    #: set when the postings carry a ``__tb`` term-bucket partition column
    #: (persist_bm25_index): queries prune to their own terms' buckets
    term_buckets: int | None = None


def build_bm25_index(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    flt: dict[str, Any] | None = None,
) -> Bm25Index:
    """One tokenization pass, one shuffle: (id, dl, explode(term)) →
    groupBy(id, term, dl).count(). The index build is the ingest-time cost
    the reference pays in its sparse/BM25 indexer; searches amortize it."""
    df = apply_filter(docs, flt)
    toks = tokenize(F.col(text_col))
    postings = (
        df.select(
            F.col(id_col),
            F.size(toks).cast("double").alias("dl"),
            F.explode(toks).alias("term"),
        )
        .groupBy(id_col, "term", "dl")
        .agg(F.count("*").alias("tf"))
    )
    return Bm25Index(postings=postings, n_docs=df.count(), id_col=id_col)


def persist_bm25_index(
    index: Bm25Index, path: str, *, buckets: int = 64,
) -> Bm25Index:
    """Write the postings TERM-BUCKET-PARTITIONED and reload.

    The reference's inverted index keys its storage by term, so a query
    touches only its own terms' posting lists
    (lib/sparse/src/index/inverted_index/, full_text_index postings). The
    parquet equivalent: partition the postings by a term-hash bucket
    column; :func:`bm25_search_index` turns the query's terms into an
    ``__tb IN (...)`` predicate driver-side (the md5-60bit python twin),
    which Spark resolves as PartitionFilters — a Q-term query opens at
    most Q of ``buckets`` directories, never the whole index. At 100 TB
    this is the difference between scanning the corpus vocabulary and
    scanning a fixed few-GB slice per query."""
    spark = index.postings.sparkSession
    from qdrant_spark.functions.hashes import token_hash63

    posts = index.postings.withColumn(
        "__tb", F.pmod(token_hash63(F.col("term")), F.lit(buckets)).cast("int"))
    (posts.repartition(buckets, "__tb")
        .write.mode("overwrite").partitionBy("__tb")
        .parquet(f"{path}/postings"))
    meta = spark.createDataFrame(
        [(int(index.n_docs), index.id_col, int(buckets))],
        "n_docs long, id_col string, buckets int")
    meta.coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    return load_bm25_index(spark, path)


def load_bm25_index(spark, path: str) -> Bm25Index:
    m = spark.read.parquet(f"{path}/meta").collect()[0]
    return Bm25Index(
        postings=spark.read.parquet(f"{path}/postings"),
        n_docs=int(m["n_docs"]), id_col=m["id_col"],
        term_buckets=int(m["buckets"]),
    )


def bm25_search_index(
    index: Bm25Index,
    query_text: str,
    *,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    avg_doc_len: float | None = BM25_AVG_DOC_LEN,
) -> DataFrame:
    """BM25 top-k over a prebuilt index. ONE scan of the postings table:
    the broadcast term join keeps only query-term postings, then a window
    over ``term`` derives each term's document frequency from the same
    candidate rows the scores need — no second postings scan, no
    aggregation over vocabulary outside the query."""
    from pyspark.sql import Window

    spark = index.postings.sparkSession
    q_tokens = _query_terms_df(spark, query_text)
    posts = index.postings
    if index.term_buckets:
        # the query's terms are driver-side literals, so their buckets
        # are too: the IN-list lands in PartitionFilters and only the
        # query terms' directories are opened (persist_bm25_index)
        from qdrant_spark.functions.hashes import token_hash63_py
        from qdrant_spark.functions.text import tokenize_py

        tbs = sorted({token_hash63_py(t) % index.term_buckets
                      for t in set(tokenize_py(query_text))})
        posts = posts.filter(F.col("__tb").isin(tbs))
    cand = posts.join(F.broadcast(q_tokens), "term")
    if avg_doc_len is None:
        avg_doc_len = index.postings.select(index.id_col, "dl").distinct() \
            .agg(F.avg("dl")).collect()[0][0]
    # document frequency of a query term == its row count in cand; the
    # window shuffle is over candidate rows only (query terms), tiny next
    # to a full postings rescan
    nd = F.count("*").over(Window.partitionBy("term"))
    idf = F.log(
        (F.lit(float(index.n_docs)) - nd + F.lit(0.5))
        / (nd + F.lit(0.5))
        + F.lit(1.0)
    )
    scored = (
        cand.withColumn(
            "contrib",
            idf * bm25_tf(F.col("tf").cast("double"), F.col("dl"),
                          k1, b, float(avg_doc_len)),
        )
        .groupBy(index.id_col)
        .agg(F.sum("contrib").alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col(index.id_col).asc()).limit(k)


def _query_terms_df(spark, query_text: str) -> DataFrame:
    from qdrant_spark.functions.text import tokenize_py

    toks = sorted(set(tokenize_py(query_text)))
    return local_df(spark, [(t,) for t in toks], "term: string")


def bm25_search(
    docs: DataFrame,
    query_text: str,
    *,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
    avg_doc_len: float | None = BM25_AVG_DOC_LEN,
    flt: dict[str, Any] | None = None,
) -> DataFrame:
    """Full BM25 ranking: corpus IDF * per-doc tf component, summed over
    unique query tokens. ``avg_doc_len=None`` computes the corpus average
    instead of the reference's fixed 256 default.

    Convenience wrapper: builds the postings index inline and delegates to
    :func:`bm25_search_index`. For repeated searches build the index once
    (the reference's ingest-time sparse indexing) and reuse it."""
    index = build_bm25_index(docs, text_col=text_col, id_col=id_col, flt=flt)
    return bm25_search_index(index, query_text, k=k, k1=k1, b=b,
                             avg_doc_len=avg_doc_len)
