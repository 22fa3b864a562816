"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship hybrid query; ``queries()`` exposes one
callable per implemented operator from SURVEY.md §2; ``oracle_sql()`` gives
the DuckDB-equivalent SQL for each (same result, same column names).

Conventions shared by every (query, oracle) pair:
- scores are computed in DOUBLE and rounded to 6 decimals AFTER top-k /
  ordering, on both sides, so value-hashes match;
- ties are broken by id ascending (the reference breaks ties arbitrarily;
  we pin id-asc — FIXTURES.md "Oracle rules");
- rank-like columns are cast to BIGINT on the Spark side to match DuckDB.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from qdrant_spark.session import local_df

# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------

WORD_PAT = r"[^\p{L}\p{N}\p{M}]+"  # must match qdrant_spark.functions.text.tokenize


def _emb(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/embeddings.parquet")


def _docs(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/documents.parquet")


def _events(spark: SparkSession, sf: str) -> DataFrame:
    # events.parquet stores TIMESTAMP(NANOS), which Spark's reader rejects
    # unless nanos are read as epoch-nanos longs (runtime-settable conf).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf}/events.parquet")


#: memoized 500-row embedding slice shared by the client-e2e entries —
#: ~10 entries each collected the same deterministic slice per gate run
#: (r12 verdict #7: the 50-entry gate's wall-clock is dominated by
#: repeated small Spark actions). Rows are plain driver-side data, so the
#: cache is session-independent; keyed by sf_dir.
_EMB500_CACHE: dict = {}


def _emb_rows500(spark: SparkSession, sf: str):
    if sf not in _EMB500_CACHE:
        _EMB500_CACHE[sf] = (_emb(spark, sf).orderBy("vec_id")
                             .limit(500).collect())
    return _EMB500_CACHE[sf]


def _vecs(spark: SparkSession, sf: str, ids: list[int]) -> dict[int, list[float]]:
    rows = _emb(spark, sf).filter(F.col("vec_id").isin(ids)).collect()
    return {r["vec_id"]: list(r["embedding"]) for r in rows}


def _r6(df: DataFrame, *cols: str) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c), 6))
    return df


def _long(df: DataFrame, *cols: str) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.col(c).cast("long"))
    return df


# DuckDB score expressions over e.v / q.qv (both DOUBLE[]); these mirror
# qdrant_spark.functions.distances exactly (double math, same formula shape).
_SQL_DIST = {
    "dot": "list_dot_product(e.v, q.qv)",
    "cosine": (
        "list_dot_product(e.v, q.qv) / "
        "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))"
    ),
    "euclid": (
        "sqrt(list_aggregate(list_transform(generate_series(1, len(e.v)),"
        " i -> (e.v[i] - q.qv[i]) * (e.v[i] - q.qv[i])), 'sum'))"
    ),
    "manhattan": (
        "list_aggregate(list_transform(generate_series(1, len(e.v)),"
        " i -> abs(e.v[i] - q.qv[i])), 'sum')"
    ),
}
_SQL_DIR = {"dot": "DESC", "cosine": "DESC", "euclid": "ASC", "manhattan": "ASC"}

_E_CTE = "e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings)"
_Q_CTE = "q AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0)"
# word tokens of a document, matching functions.text.tokenize
_TOKS = (
    "list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}\\p{M}]+'),"
    " t -> t != '')"
)
_SSIG = "(0.5 * (({x}) / (1.0 + abs({x})) + 1.0))"  # scaled fast sigmoid
_FSIG = "(({x}) / (1.0 + abs({x})))"  # fast sigmoid


def _ann_ivf_sql() -> str:
    """Value oracle for the pinned-centroid IVF probe (nprobe=2 of K=8):
    centroids are the embeddings of vec_id 0..7, so nearest-centroid
    assignment (argmin of -2 v.c + ||c||^2, ties by centroid index — the
    rule of the knn.nearest_centroid kernel), the probe set (2 nearest
    centroids to the query), and the exact cosine top-k inside the probed
    clusters are all recomputable in SQL."""
    lin = "-2*list_dot_product({v}, c.cv) + list_dot_product(c.cv, c.cv)"
    cos = (
        "list_dot_product(a.v, q.qv) / "
        "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv)))"
    )
    return f"""
WITH {_Q_CTE},
c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) cv
      FROM embeddings WHERE vec_id < 8),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
a AS (SELECT e.vec_id, e.v,
             (SELECT c.cid FROM c
              ORDER BY {lin.format(v='e.v')}, c.cid LIMIT 1) AS cl
      FROM e),
p AS (SELECT c.cid FROM c, q
      ORDER BY {lin.format(v='q.qv')}, c.cid LIMIT 2),
s AS (SELECT a.vec_id, {cos} AS score FROM a, q
      WHERE a.cl IN (SELECT cid FROM p))
SELECT vec_id, round(score, 6) AS score FROM s
ORDER BY score DESC, vec_id LIMIT 10
"""


def _bq_rescore_sql() -> str:
    """Value oracle for 1-bit BQ + rescore: the encoding is bit_d =
    v[d] > corpus-mean_d — a deterministic function of the corpus — and
    XOR+popcount over the packed words equals the count of differing
    bits, so the hamming coarse stage (top 80 = k*oversampling, ties by
    id) and the exact cosine rescore replay exactly in SQL."""
    cos = (
        "list_dot_product(t.v, q.qv) / "
        "(sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(q.qv, q.qv)))"
    )
    return f"""
WITH {_Q_CTE},
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
m AS (SELECT list(mv ORDER BY d) AS means FROM (
        SELECT g.d AS d, AVG(v[g.d]) AS mv
        FROM e, (SELECT unnest(generate_series(1, (SELECT len(v) FROM e LIMIT 1))) AS d) g
        GROUP BY g.d)),
h AS (SELECT e.vec_id, e.v,
             list_aggregate(list_transform(
                 generate_series(1, len(e.v)),
                 i -> CASE WHEN (e.v[i] > m.means[i]) = (q.qv[i] > m.means[i])
                      THEN 0 ELSE 1 END), 'sum') AS ham
      FROM e, m, q),
coarse AS (SELECT vec_id, v FROM h ORDER BY ham, vec_id LIMIT 80),
s AS (SELECT t.vec_id, {cos} AS score FROM coarse t, q)
SELECT vec_id, round(score, 6) AS score FROM s
ORDER BY score DESC, vec_id LIMIT 10
"""


def _knn_sql(metric: str, k: int = 10, label_where: str = "", threshold: str = "") -> str:
    e_cte = _E_CTE
    if label_where:
        e_cte = e_cte[:-1] + f" WHERE {label_where})"
    return f"""
WITH {_Q_CTE}, {e_cte},
s AS (SELECT e.vec_id, {_SQL_DIST[metric]} AS score FROM e, q)
SELECT vec_id, round(s.score, 6) AS score FROM s
{threshold}
ORDER BY s.score {_SQL_DIR[metric]}, vec_id LIMIT {k}
"""


# ---------------------------------------------------------------------------
# query callables
# ---------------------------------------------------------------------------


def _q_knn(metric: str, flt=None, threshold=None):
    def run(spark: SparkSession, sf: str) -> DataFrame:
        from qdrant_spark.operators.knn import knn

        q = _vecs(spark, sf, [0])[0]
        out = knn(
            _emb(spark, sf), q, metric=metric, k=10, vec_col="embedding",
            id_col="vec_id", flt=flt, score_threshold=threshold,
            select=["vec_id", "score"],
        )
        return _r6(out, "score")

    return run


def _q_knn_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Batch exact KNN through the block-matmul Arrow kernel; the
    knn_batch, knn_batch_partial and knn_batch_matmul entries share this
    plan and one oracle SQL."""
    from qdrant_spark.operators.knn import knn_batch

    emb = _emb(spark, sf)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = knn_batch(
        emb, queries, metric="cosine", k=10, vec_col="embedding",
        id_col="vec_id",
    ).select("qid", "vec_id", "score", "rank")
    return _long(_r6(out, "score"), "rank")


_KNN_BATCH_SQL = f"""
WITH qs AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id < 5),
{_E_CTE},
s AS (SELECT qs.qid, e.vec_id,
      list_dot_product(e.v, qs.qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qs.qv, qs.qv))) AS score
      FROM e, qs),
r AS (SELECT qid, vec_id, score,
      row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) rn FROM s)
SELECT qid, vec_id, round(r.score, 6) AS score, CAST(rn AS BIGINT) AS rank
FROM r WHERE rn <= 10
"""


def _q_similarity_join(spark: SparkSession, sf: str) -> DataFrame:
    """Bulk similarity join: top-5 neighbors for each of the first 50
    vectors against the whole corpus — the training-pipeline shape of
    batch KNN (one block-matmul pass over the points)."""
    from qdrant_spark.operators.knn import knn_batch

    emb = _emb(spark, sf)
    queries = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = knn_batch(
        emb, queries, metric="cosine", k=5, vec_col="embedding",
        id_col="vec_id",
    ).select("qid", "vec_id", "score", "rank")
    return _long(_r6(out, "score"), "rank")


_SIMILARITY_JOIN_SQL = f"""
WITH qs AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id < 50),
{_E_CTE},
s AS (SELECT qs.qid, e.vec_id,
      list_dot_product(e.v, qs.qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qs.qv, qs.qv))) AS score
      FROM e, qs),
r AS (SELECT qid, vec_id, score,
      row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) rn FROM s)
SELECT qid, vec_id, round(r.score, 6) AS score, CAST(rn AS BIGINT) AS rank
FROM r WHERE rn <= 5
"""


def _q_scroll_random(spark: SparkSession, sf: str) -> DataFrame:
    """ScrollOrder::Random — md5-hash random order, reproducible in any
    engine with md5 (value-checked against the DuckDB oracle)."""
    from qdrant_spark.operators.points import scroll

    return scroll(_docs(spark, sf), limit=20, id_col="doc_id", random_seed=42).select(
        "doc_id"
    )


_SCROLL_RANDOM_SQL = """
SELECT doc_id FROM documents
ORDER BY md5(concat('42', ':', CAST(doc_id AS VARCHAR))), doc_id
LIMIT 20
"""


def _q_reco(kind: str):
    def run(spark: SparkSession, sf: str) -> DataFrame:
        from qdrant_spark.operators import recommend as R

        v = _vecs(spark, sf, [0, 1, 2, 3, 4])
        emb = _emb(spark, sf)
        kw = dict(vec_col="embedding", id_col="vec_id", k=8)
        if kind == "avg":
            out = R.recommend_avg_vector(emb, [v[1], v[2]], [v[3]], metric="dot", **kw)
        elif kind == "best":
            out = R.recommend_best_score(emb, [v[1], v[2]], [v[3]], metric="cosine", **kw)
        elif kind == "sum":
            out = R.recommend_sum_scores(emb, [v[1], v[2]], [v[3]], metric="dot", **kw)
        elif kind == "discover":
            out = R.discover(emb, v[0], [(v[1], v[2]), (v[3], v[4])], metric="dot", **kw)
        elif kind == "context":
            out = R.context(emb, [(v[1], v[2])], metric="dot", **kw)
        else:  # feedback
            out = R.relevance_feedback(
                emb, v[0], [(v[1], v[2], 0.5)], a=2.0, metric="dot", **kw
            )
        return _r6(out.select("vec_id", "score"), "score")

    return run


def _dot_q(qid: int) -> str:
    return (
        f"(SELECT list_dot_product(e.v, (SELECT CAST(embedding AS DOUBLE[])"
        f" FROM embeddings WHERE vec_id = {qid})))"
    )


def _reco_sql(kind: str) -> str:
    d = {i: _dot_q(i) for i in range(5)}
    cos = (
        "(list_dot_product(e.v, {q}) / (sqrt(list_dot_product(e.v, e.v)) *"
        " sqrt(list_dot_product({q}, {q}))))"
    )
    if kind == "avg":
        return f"""
WITH pc AS (
  SELECT i, avg(x) AS ax FROM (
    SELECT generate_subscripts(CAST(embedding AS DOUBLE[]), 1) i,
           unnest(CAST(embedding AS DOUBLE[])) x
    FROM embeddings WHERE vec_id IN (1, 2)) GROUP BY i),
nc AS (
  SELECT i, avg(x) AS ax FROM (
    SELECT generate_subscripts(CAST(embedding AS DOUBLE[]), 1) i,
           unnest(CAST(embedding AS DOUBLE[])) x
    FROM embeddings WHERE vec_id = 3) GROUP BY i),
q AS (SELECT list(pc.ax + pc.ax - nc.ax ORDER BY pc.i) qv
      FROM pc JOIN nc ON pc.i = nc.i),
{_E_CTE},
s AS (SELECT e.vec_id, list_dot_product(e.v, q.qv) AS score FROM e, q)
SELECT vec_id, round(s.score, 6) AS score FROM s ORDER BY s.score DESC, vec_id LIMIT 8
"""
    if kind == "best":
        q1 = "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 1)"
        q2 = "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 2)"
        q3 = "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 3)"
        return f"""
WITH {_E_CTE},
s0 AS (SELECT e.vec_id, {cos.format(q=q1)} c1, {cos.format(q=q2)} c2, {cos.format(q=q3)} c3 FROM e),
s AS (SELECT vec_id,
      CASE WHEN greatest(c1, c2) > c3 THEN {_SSIG.format(x='greatest(c1, c2)')}
           ELSE -{_SSIG.format(x='c3')} END AS score FROM s0)
SELECT vec_id, round(s.score, 6) AS score FROM s ORDER BY s.score DESC, vec_id LIMIT 8
"""
    if kind == "sum":
        expr = f"{d[1]} + {d[2]} - {d[3]}"
    elif kind == "discover":
        sign1 = f"(CASE WHEN {d[1]} > {d[2]} THEN 1 WHEN {d[1]} < {d[2]} THEN -1 ELSE 0 END)"
        sign2 = f"(CASE WHEN {d[3]} > {d[4]} THEN 1 WHEN {d[3]} < {d[4]} THEN -1 ELSE 0 END)"
        expr = f"CAST({sign1} + {sign2} AS DOUBLE) + {_SSIG.format(x=d[0])}"
    elif kind == "context":
        eps = "1.1920928955078125e-07"
        diff = f"({d[1]} - {d[2]} - {eps})"
        expr = _FSIG.format(x=f"least({diff}, 0.0)")
    else:  # feedback
        expr = f"2.0 * {d[0]} + 0.5 * ({d[1]} - {d[2]})"
    return f"""
WITH {_E_CTE},
s AS (SELECT e.vec_id, {expr} AS score FROM e)
SELECT vec_id, round(s.score, 6) AS score FROM s ORDER BY s.score DESC, vec_id LIMIT 8
"""


def _q_fusion(kind: str):
    def run(spark: SparkSession, sf: str) -> DataFrame:
        from qdrant_spark.operators.fusion import dbsf, rrf
        from qdrant_spark.operators.knn import knn

        q = _vecs(spark, sf, [0])[0]
        emb = _emb(spark, sf)
        kw = dict(k=20, vec_col="embedding", id_col="vec_id", select=["vec_id", "score"])
        cos = knn(emb, q, metric="cosine", **kw)
        euc = knn(emb, q, metric="euclid", **kw)
        fn = rrf if kind == "rrf" else dbsf
        out = fn([cos, euc], orders=[True, False], id_col="vec_id", limit=10)
        return _r6(out, "score")

    return run


def _fusion_sql(kind: str) -> str:
    base = f"""
WITH {_Q_CTE}, {_E_CTE},
ca AS (SELECT e.vec_id, {_SQL_DIST['cosine']} AS score FROM e, q
       ORDER BY score DESC, vec_id LIMIT 20),
cb AS (SELECT e.vec_id, {_SQL_DIST['euclid']} AS score FROM e, q
       ORDER BY score ASC, vec_id LIMIT 20)"""
    if kind == "rrf":
        return base + """,
ra AS (SELECT vec_id, row_number() OVER (ORDER BY score DESC, vec_id) - 1 AS pos FROM ca),
rb AS (SELECT vec_id, row_number() OVER (ORDER BY score ASC, vec_id) - 1 AS pos FROM cb),
u AS (SELECT vec_id, 1.0 / (CAST(pos + 1 AS DOUBLE) / 1.0 + 2 - 1.0) AS c FROM ra
      UNION ALL
      SELECT vec_id, 1.0 / (CAST(pos + 1 AS DOUBLE) / 1.0 + 2 - 1.0) AS c FROM rb),
f AS (SELECT vec_id, sum(c) AS score FROM u GROUP BY vec_id)
SELECT vec_id, round(f.score, 6) AS score FROM f ORDER BY f.score DESC, vec_id LIMIT 10
"""
    norm = """
  SELECT vec_id,
    CASE WHEN count(*) OVER () = 1 THEN 0.5
         WHEN stddev_samp(s) OVER () = 0 THEN 0.5
         ELSE (s - (avg(s) OVER () - 3 * stddev_samp(s) OVER ()))
              / ((avg(s) OVER () + 3 * stddev_samp(s) OVER ())
                 - (avg(s) OVER () - 3 * stddev_samp(s) OVER ())) END * 1.0 AS n
  FROM {src}"""
    return base + f""",
sa AS (SELECT vec_id, CAST(score AS DOUBLE) s FROM ca),
sb AS (SELECT vec_id, -CAST(score AS DOUBLE) s FROM cb),
na AS ({norm.format(src='sa')}),
nb AS ({norm.format(src='sb')}),
u AS (SELECT * FROM na UNION ALL SELECT * FROM nb),
f AS (SELECT vec_id, sum(n) AS score FROM u GROUP BY vec_id)
SELECT vec_id, round(f.score, 6) AS score FROM f ORDER BY f.score DESC, vec_id LIMIT 10
"""


def _q_group(with_lk: bool):
    def run(spark: SparkSession, sf: str) -> DataFrame:
        from qdrant_spark.operators.groupby import group_by, with_lookup
        from qdrant_spark.operators.knn import knn

        q = _vecs(spark, sf, [0])[0]
        emb = _emb(spark, sf)
        scored = knn(
            emb, q, metric="cosine", k=50, vec_col="embedding", id_col="vec_id",
            select=["vec_id", "label", "score"],
        )
        grp = group_by(
            scored, "label", groups=5, group_size=3, id_col="vec_id"
        ).select("group_value", "vec_id", "score", "rank_in_group", "group_rank")
        grp = _long(_r6(grp, "score"), "rank_in_group", "group_rank")
        if with_lk:
            lk = emb.groupBy("label").agg(
                F.min("vec_id").alias("rep"), F.count("*").alias("n")
            )
            grp = with_lookup(grp, lk, lookup_id_col="label").select(
                "group_value", "vec_id", "score", "rank_in_group", "group_rank",
                "lookup_rep", "lookup_n",
            )
        return grp

    return run


def _group_sql(with_lk: bool) -> str:
    lk_join = """
JOIN (SELECT label, min(vec_id) AS lookup_rep, count(*) AS lookup_n
      FROM embeddings GROUP BY label) lk ON lk.label = g3.group_value""" if with_lk else ""
    lk_cols = ", lk.lookup_rep, lk.lookup_n" if with_lk else ""
    return f"""
WITH {_Q_CTE}, {_E_CTE},
c AS (SELECT e.vec_id, e.label, {_SQL_DIST['cosine']} AS score FROM e, q
      ORDER BY score DESC, vec_id LIMIT 50),
g AS (SELECT label AS group_value, vec_id, score,
      row_number() OVER (PARTITION BY label ORDER BY score DESC, vec_id) rig
      FROM c),
g2 AS (SELECT *, max(CASE WHEN rig = 1 THEN score END)
       OVER (PARTITION BY group_value) best FROM g WHERE rig <= 3),
g3 AS (SELECT *, dense_rank() OVER (ORDER BY best DESC, group_value) gr FROM g2)
SELECT group_value, vec_id, round(g3.score, 6) AS score,
       CAST(rig AS BIGINT) AS rank_in_group, CAST(gr AS BIGINT) AS group_rank{lk_cols}
FROM g3 {lk_join} WHERE gr <= 5
"""


def _q_matrix(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.operators.matrix import distance_matrix

    out = distance_matrix(
        _emb(spark, sf), sample_size=10, limit_per_sample=3, metric="cosine",
        vec_col="embedding", id_col="vec_id",
        flt={"must": [{"key": "vec_id", "range": {"lt": 10}}]},
    )
    return _long(_r6(out, "score"), "rank")


_MATRIX_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE vec_id < 10),
p AS (SELECT a.vec_id id_a, b.vec_id id_b,
      list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS score
      FROM e a, e b WHERE a.vec_id <> b.vec_id),
r AS (SELECT id_a, id_b, score,
      row_number() OVER (PARTITION BY id_a ORDER BY score DESC, id_b) rn FROM p)
SELECT id_a, id_b, round(r.score, 6) AS score, CAST(rn AS BIGINT) AS rank
FROM r WHERE rn <= 3
"""


def _q_matrix_offsets(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.operators.matrix import distance_matrix_offsets

    out = distance_matrix_offsets(
        _emb(spark, sf), sample_size=10, limit_per_sample=3, metric="cosine",
        vec_col="embedding", id_col="vec_id",
        flt={"must": [{"key": "vec_id", "range": {"lt": 10}}]},
    )
    # Flatten the CSR arrays into one row per stored entry (the driver's
    # value-hash compare needs scalar columns); ids (all bigint) stay as a
    # csv string so the id ordering is still asserted.
    return out.select(
        F.concat_ws(",", F.col("ids")).alias("ids_csv"),
        F.posexplode(F.arrays_zip("offsets_row", "offsets_col", "scores")),
    ).select(
        "ids_csv",
        F.col("pos").cast("long").alias("pos"),
        F.col("col.offsets_row").cast("long").alias("row_off"),
        F.col("col.offsets_col").cast("long").alias("col_off"),
        F.round(F.col("col.scores"), 6).alias("score"),
    )


_MATRIX_OFFSETS_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE vec_id < 10),
p AS (SELECT a.vec_id id_a, b.vec_id id_b,
      list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS score
      FROM e a, e b WHERE a.vec_id <> b.vec_id),
r AS (SELECT id_a, id_b, score,
      row_number() OVER (PARTITION BY id_a ORDER BY score DESC, id_b) rn FROM p
      QUALIFY rn <= 3),
o AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS off FROM e),
j AS (SELECT ia.off ro, ib.off co, r.score, r.rn
      FROM r JOIN o ia ON r.id_a = ia.vec_id JOIN o ib ON r.id_b = ib.vec_id)
SELECT (SELECT string_agg(vec_id, ',' ORDER BY vec_id) FROM e) AS ids_csv,
       row_number() OVER (ORDER BY ro, rn) - 1 AS pos,
       ro AS row_off, co AS col_off, round(score, 6) AS score
FROM j
"""


def _q_shard_routed_knn(spark: SparkSession, sf: str) -> DataFrame:
    """KNN over a shard-key-routed corpus: assign shard_key per point
    (custom sharding by the label field), route the query to shards [1, 3]
    only, search inside them."""
    from qdrant_spark.operators.knn import knn
    from qdrant_spark.operators.sharding import assign_shard_key, select_shards

    sh = assign_shard_key(_emb(spark, sf), F.col("label"))
    routed = select_shards(sh, [1, 3])
    q = _vecs(spark, sf, [0])[0]
    out = knn(routed, q, metric="cosine", k=10, vec_col="embedding",
              id_col="vec_id", select=["vec_id", "score"])
    return _r6(out, "score")


_SHARD_ROUTED_SQL = f"""
WITH {_E_CTE}, {_Q_CTE},
s AS (SELECT vec_id,
      list_dot_product(e.v, q.qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS score
      FROM e, q WHERE e.label IN (1, 3))
SELECT vec_id, round(s.score, 6) AS score FROM s
ORDER BY s.score DESC, vec_id LIMIT 10
"""


def _q_shard_fallback(spark: SparkSession, sf: str) -> DataFrame:
    """Fallback routing (shard_holder/mod.rs:721-784): the target key does
    not exist, so the read routes to the fallback key's shard."""
    from qdrant_spark.operators.sharding import assign_shard_key, select_shards

    sh = assign_shard_key(_emb(spark, sf), F.col("label"))
    routed = select_shards(sh, {"target": 999, "fallback": 2})
    return (routed.select("vec_id", F.col("shard_key").cast("long").alias("shard_key"))
            .orderBy("vec_id").limit(20))


_SHARD_FALLBACK_SQL = """
SELECT vec_id, CAST(label AS BIGINT) AS shard_key FROM embeddings
WHERE label = 2 ORDER BY vec_id LIMIT 20
"""


def _q_field_index_stats(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.catalog import CollectionCatalog

    cat = CollectionCatalog()
    # events.ts is a TIMESTAMP column in the testdata parquet; present it as
    # epoch seconds (double) so the datetime stats match DuckDB's epoch()
    def events_epoch():
        # robust to testdata regeneration: ts has shipped both as
        # TIMESTAMP_NTZ (micros) and as epoch-nanos LONG across rounds
        ev = spark.read.parquet(f"{sf}/events.parquet")
        dt = ev.schema["ts"].dataType.simpleString()
        if dt.startswith("timestamp"):
            ntz = "TIMESTAMP_NTZ '1970-01-01 00:00:00'" if "ntz" in dt \
                else "TIMESTAMP '1970-01-01 00:00:00'"
            epoch = F.expr(f"timestampdiff(MICROSECOND, {ntz}, ts) / 1e6")
        else:  # epoch-nanos long
            epoch = F.col("ts") / F.lit(1e9)
        return ev.withColumn("ts", epoch)

    cat.register("events", events_epoch)
    cat.create_field_index("events", "event_type", "keyword", is_tenant=True)
    cat.create_field_index("events", "user_id", "integer", is_principal=True)
    cat.create_field_index("events", "ts", "datetime", is_principal=True)
    cat.create_field_index("events", "value", "float")
    out = cat.index_stats("events")
    return _r6(_r6(out, "min_num"), "max_num")


def _q_field_index_uuid(spark: SparkSession, sf: str) -> DataFrame:
    """Uuid-typed payload index (PayloadSchemaType::Uuid,
    lib/segment/src/data_types/index.rs:142; a tenant-eligible keyword
    sibling): the uuid derives deterministically from doc_id
    (md5 formatted 8-4-4-4-12, replayable in SQL), the index registers
    as a TENANT key, its stats materialize in the one-scan pass, and a
    match.value filter on the uuid field resolves (asserted inline —
    the oracle checks the stats row)."""
    from qdrant_spark.catalog import CollectionCatalog
    from qdrant_spark.filters import apply_filter

    md5 = F.md5(F.col("doc_id").cast("string"))
    uuid = F.concat_ws(
        "-", F.substring(md5, 1, 8), F.substring(md5, 9, 4),
        F.substring(md5, 13, 4), F.substring(md5, 17, 4),
        F.substring(md5, 21, 12))
    docs = _docs(spark, sf).select("doc_id", uuid.alias("tenant_uuid"))
    cat = CollectionCatalog()
    cat.register("docs_uuid", docs)
    fi = cat.create_field_index("docs_uuid", "tenant_uuid", "uuid",
                                is_tenant=True)
    assert fi.is_tenant and fi.schema_type == "uuid"
    # the uuid field filters like a keyword (match.value)
    probe = docs.orderBy("doc_id").first()
    hit = apply_filter(docs, {"must": [{
        "key": "tenant_uuid",
        "match": {"value": probe["tenant_uuid"]}}]}).collect()
    assert [r["doc_id"] for r in hit] == [probe["doc_id"]]
    return _r6(_r6(cat.index_stats("docs_uuid"), "min_num"), "max_num")


_FIELD_INDEX_UUID_SQL = """
WITH u AS (SELECT doc_id,
  substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) || '-' ||
  substr(md5(CAST(doc_id AS VARCHAR)), 9, 4) || '-' ||
  substr(md5(CAST(doc_id AS VARCHAR)), 13, 4) || '-' ||
  substr(md5(CAST(doc_id AS VARCHAR)), 17, 4) || '-' ||
  substr(md5(CAST(doc_id AS VARCHAR)), 21, 12) AS tenant_uuid
  FROM documents)
SELECT 'tenant_uuid' AS field, 'uuid' AS schema_type,
       count(tenant_uuid) AS n, count(*) - count(tenant_uuid) AS nulls,
       count(DISTINCT tenant_uuid) AS n_distinct,
       min(tenant_uuid) AS min_str, max(tenant_uuid) AS max_str,
       CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num
FROM u
"""


_FIELD_INDEX_STATS_SQL = """
SELECT 'event_type' AS field, 'keyword' AS schema_type,
       count(event_type) AS n, count(*) - count(event_type) AS nulls,
       count(DISTINCT event_type) AS n_distinct,
       CAST(min(event_type) AS VARCHAR) AS min_str,
       CAST(max(event_type) AS VARCHAR) AS max_str,
       CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num
FROM events
UNION ALL
SELECT 'ts', 'datetime', count(ts), count(*) - count(ts), count(DISTINCT ts),
       NULL, NULL, round(epoch(min(ts)), 6), round(epoch(max(ts)), 6) FROM events
UNION ALL
SELECT 'user_id', 'integer', count(user_id), count(*) - count(user_id),
       count(DISTINCT user_id), NULL, NULL,
       round(CAST(min(user_id) AS DOUBLE), 6), round(CAST(max(user_id) AS DOUBLE), 6) FROM events
UNION ALL
SELECT 'value', 'float', count(value), count(*) - count(value),
       count(DISTINCT value), NULL, NULL,
       round(min(value), 6), round(max(value), 6) FROM events
"""


def _q_maxsim(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.functions.distances import maxsim

    emb = _emb(spark, sf)
    q = _vecs(spark, sf, [0])[0]
    chunks = [q[i * 8:(i + 1) * 8] for i in range(8)]
    q_mv = F.array(*[F.array(*[F.lit(float(x)) for x in ch]) for ch in chunks])
    d_mv = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: F.slice(F.col("embedding").cast("array<double>"), i * 8 + 1, 8),
    )
    out = (
        emb.withColumn("score", maxsim(q_mv, d_mv, metric="dot"))
        .select("vec_id", "score")
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(10)
    )
    return _r6(out, "score")


_MAXSIM_SQL = f"""
WITH {_E_CTE}, {_Q_CTE},
s AS (
  SELECT e.vec_id, qi.i AS qi,
         max(list_dot_product(q.qv[qi.i * 8 + 1 : qi.i * 8 + 8],
                              e.v[di.i * 8 + 1 : di.i * 8 + 8])) AS m
  FROM e, q, generate_series(0, 7) qi(i), generate_series(0, 7) di(i)
  GROUP BY e.vec_id, qi.i),
t AS (SELECT vec_id, sum(m) AS score FROM s GROUP BY vec_id)
SELECT vec_id, round(t.score, 6) AS score FROM t ORDER BY t.score DESC, vec_id LIMIT 10
"""


def _q_scroll_docs(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.operators.points import scroll

    return scroll(
        _docs(spark, sf), limit=20, id_col="doc_id", offset_id=100,
        flt={"must": [{"key": "lang", "match": {"value": "en"}}]},
    ).select("doc_id", "lang", "source", "n_chars")


def _q_scroll_events(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.operators.points import scroll

    out = scroll(
        _events(spark, sf), limit=50, id_col="event_id",
        order_by="value", direction="desc", start_from=90.0,
    ).select("event_id", "value")
    return _r6(out, "value")


def _q_count_events(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.operators.points import count_df

    return count_df(
        _events(spark, sf),
        {"must": [
            {"key": "event_type", "match": {"any": ["click", "view"]}},
            {"key": "value", "range": {"gte": 10.0, "lt": 500.0}},
        ]},
    )


def _q_facet(table: str, key: str):
    def run(spark: SparkSession, sf: str) -> DataFrame:
        from qdrant_spark.operators.points import facet

        df = spark.read.parquet(f"{sf}/{table}.parquet")
        return facet(df, key, limit=10)

    return run


def _q_facet_int_filtered(spark: SparkSession, sf: str) -> DataFrame:
    """Facet over an INTEGER payload field with a filter (FacetParams
    accepts keyword/integer/uuid/bool keys, facets.rs:16-30 +
    data_types/index.rs; only keyword fields were driver-gated before
    r12): top user_ids among 'click' events, count desc then value asc
    — the integer ordering, not lexicographic."""
    from qdrant_spark.operators.points import facet

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return facet(ev, "user_id", limit=10,
                 flt={"must": [{"key": "event_type",
                                "match": {"value": "click"}}]})


_FACET_INT_SQL = """
SELECT user_id AS value, count(*) AS count FROM events
WHERE event_type = 'click' AND user_id IS NOT NULL
GROUP BY user_id ORDER BY count(*) DESC, user_id ASC LIMIT 10
"""


def _q_facet_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """facet(exact=false): scaled counts from the deterministic md5
    quarter-sample — approximate yet exactly reproducible (the sample
    membership and 4x scaling are pure md5/arithmetic, so DuckDB lands on
    the identical estimate)."""
    from qdrant_spark.operators.points import facet_estimate

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return facet_estimate(ev, "event_type", limit=10, fraction=0.25,
                          seed=7, id_col="event_id")


def _q_unique_source(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.operators.points import unique_values

    return unique_values(_docs(spark, sf), "source")


def _q_retrieve(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.operators.points import retrieve

    return retrieve(
        _docs(spark, sf), [1, 5, 17, 99], id_col="doc_id",
        with_payload=["lang", "source"],
    )


def _q_filter_orders(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.filters import apply_filter

    flt = {
        "must": [
            {"key": "o_orderstatus", "match": {"value": "O"}},
            {"key": "o_totalprice", "range": {"gte": 1000.0, "lte": 150000.0}},
            {"key": "o_orderdate", "range": {"gte": "1995-01-01T00:00:00Z"}},
        ],
        "must_not": [{"key": "o_orderpriority", "match": {"any": ["1-URGENT"]}}],
    }
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    return apply_filter(orders, flt).select("o_orderkey")


def _q_filter_min_should(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.filters import apply_filter

    flt = {
        "min_should": {
            "conditions": [
                {"key": "l_returnflag", "match": {"value": "R"}},
                {"key": "l_quantity", "range": {"gt": 25.0}},
                {"key": "l_discount", "range": {"lte": 0.02}},
            ],
            "min_count": 2,
        }
    }
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    return apply_filter(li, flt).select("l_orderkey", "l_linenumber")


def _q_filter_match_except(spark: SparkSession, sf: str) -> DataFrame:
    """match.except on an ARRAY-valued payload field with the
    reference's pinned semantics (MatchExcept, types.rs:3075;
    empty-set and missing-field behavior per
    tests/openapi/test_match_except_empty.py): a point matches iff at
    least one PRESENT value is outside the excluded set — points
    whose field is missing never match. ``tags`` derives
    deterministically from documents ([lang, source], NULL when
    doc_id % 7 == 0), so the oracle replays the whole quantity in SQL
    with the missing-field guard."""
    from qdrant_spark.filters import apply_filter

    docs = _docs(spark, sf).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 != 0,
               F.array("lang", "source")).alias("tags"))
    flt = {"must": [{"key": "tags", "match": {"except": ["en", "web"]}}]}
    return apply_filter(docs, flt).select("doc_id")


_FILTER_MATCH_EXCEPT_SQL = """
SELECT doc_id FROM documents
WHERE doc_id % 7 != 0
  AND EXISTS (SELECT 1 FROM unnest([lang, source]) AS t(v)
              WHERE v IS NOT NULL AND v NOT IN ('en', 'web'))
"""


def _q_filter_text(kind: str):
    def run(spark: SparkSession, sf: str) -> DataFrame:
        from qdrant_spark.filters import apply_filter

        match = {"text": "fast hash"} if kind == "text" else {"phrase": "hash join"}
        flt = {"must": [{"key": "text", "match": match}]}
        return apply_filter(_docs(spark, sf), flt).select("doc_id")

    return run


def _q_filter_phrase_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """match.phrase via the materialized positional postings index
    (full_text_index/inverted_index/mod.rs:479-494): query tokens join the
    posting lists at their phrase offsets — the corpus text is never
    re-tokenized at query time."""
    from qdrant_spark.operators.text_index import build_text_index, phrase_match_index

    idx = build_text_index(_docs(spark, sf))
    return phrase_match_index(idx, "stream table hash").select("doc_id")


def _q_filter_text_stemmed(spark: SparkSession, sf: str) -> DataFrame:
    """match.text against a Snowball-stemmed text index
    (StemmingAlgorithm/SnowballParams, index.rs:304-360; stemmer.rs:9-52):
    query and document tokens both stem, so inflected forms match."""
    from qdrant_spark.filters import apply_filter

    tp = {"text": {"stemmer": {"type": "snowball", "language": "english"}}}
    flt = {"must": [{"key": "text", "match": {"text": "queries merged"}}]}
    return apply_filter(_docs(spark, sf), flt, text_params=tp).select("doc_id")


def _q_filter_text_stopworded(spark: SparkSession, sf: str) -> DataFrame:
    """match.text against a text index declaring BUILT-IN language
    stopwords (StopwordsInterface::Language, data_types/index.rs:438;
    resolution stop_words/mod.rs:74-101; english list stop_words/
    english.rs) plus an English Snowball stemmer. The query 'the queries
    a merged' keeps only its content tokens after stopword removal —
    ('the', 'a' are in the built-in english set) — so it requires
    exactly the stems (queri, merg); document tokens pass the same
    stopword stage before stemming."""
    from qdrant_spark.filters import apply_filter

    tp = {"text": {
        "stemmer": {"type": "snowball", "language": "english"},
        "stopwords": {"language": "english"},
    }}
    flt = {"must": [{"key": "text", "match": {"text": "the queries a merged"}}]}
    return apply_filter(_docs(spark, sf), flt, text_params=tp).select("doc_id")


def _q_filter_text_any(spark: SparkSession, sf: str) -> DataFrame:
    """match.text_any (MatchTextAny, types.rs:3021): at least one query
    token present — arrays_overlap over the tokenized field."""
    from qdrant_spark.filters import apply_filter

    flt = {"must": [{"key": "text", "match": {"text_any": "dup vector"}}]}
    return apply_filter(_docs(spark, sf), flt).select("doc_id")


def _q_filter_has_id(spark: SparkSession, sf: str) -> DataFrame:
    """has_id (HasIdCondition, types.rs:3808) combined with a payload
    condition — the id column resolves to the table's *_id column."""
    from qdrant_spark.filters import apply_filter

    flt = {
        "must": [
            {"has_id": list(range(0, 200, 3))},
            {"key": "label", "range": {"lt": 7}},
        ]
    }
    return apply_filter(_emb(spark, sf), flt).select("vec_id", "label")


def _q_filter_has_vector(spark: SparkSession, sf: str) -> DataFrame:
    """has_vector condition (HasVectorCondition, types.rs; filter at
    filters.py:394): points missing a NAMED vector — a NULL ``vec_<name>``
    column here, the reference's absent named vector — are excluded,
    combined with a payload condition. The corpus derives a nullable
    named vector from embeddings deterministically (vec_id % 3 == 0 rows
    lack it), so the oracle is plain SQL."""
    from qdrant_spark.filters import apply_filter

    pts = _emb(spark, sf).select(
        "vec_id", "label",
        F.when(F.col("vec_id") % 3 != 0,
               F.col("embedding")).alias("vec_img"))
    flt = {"must": [{"has_vector": "img"},
                    {"key": "label", "match": {"any": [1, 4]}}]}
    out = apply_filter(pts, flt, id_col="vec_id")
    return out.select("vec_id", "label").orderBy("vec_id").limit(300)


_FILTER_HAS_VECTOR_SQL = """
SELECT vec_id, label FROM embeddings
WHERE vec_id % 3 <> 0 AND label IN (1, 4)
ORDER BY vec_id LIMIT 300
"""


def _q_count_approx(spark: SparkSession, sf: str) -> DataFrame:
    """count(exact=false) value-oracled (r11): the estimate comes from a
    DETERMINISTIC md5-Bernoulli sample of the id (the facet_estimate
    sampler — uniform, no first-partition bias) scored with the
    reference's Agresti-Coull interval at z=2 (sample_estimation.rs:9-18)
    — every step is plain math DuckDB replays exactly, so even the
    approximate count carries a value oracle, not just a bracket test."""
    from qdrant_spark.operators.points import count_estimate

    emb = _emb(spark, sf)
    est, interval = count_estimate(
        emb, {"must": [{"key": "label", "range": {"lt": 4}}]},
        fraction=0.25, seed=42, id_col="vec_id")
    return local_df(spark, [(est, interval)],
                                 "estimate long, interval long")


# frac 0.25 -> hex threshold 40000000; n_hat = trials + 4,
# p_hat = (positive + 2)/n_hat, interval = 2*sqrt(p_hat/n_hat*(1-p_hat));
# int() truncation == floor for the positive quantities here
_COUNT_APPROX_SQL = """
WITH s AS (SELECT label FROM embeddings
           WHERE substring(md5(CAST(vec_id AS VARCHAR) || ':count42'),
                           1, 8) < '40000000'),
a AS (SELECT count(*) AS trials,
             count(*) FILTER (WHERE label < 4) AS positive FROM s),
t AS (SELECT (SELECT count(*) FROM embeddings) AS total),
m AS (SELECT a.trials + 4.0 AS n_hat,
             (a.positive + 2.0) / (a.trials + 4.0) AS p_hat,
             t.total FROM a, t)
SELECT CAST(floor(p_hat * total) AS BIGINT) AS estimate,
       CAST(floor(2.0 * sqrt((p_hat / n_hat) * (1.0 - p_hat)) * total)
            AS BIGINT) AS interval
FROM m
"""


def _q_filter_text_stemmed_de(spark: SparkSession, sf: str) -> DataFrame:
    """match.text against a GERMAN-Snowball-stemmed text index on the
    corpus' German stratum (SnowballLanguage::German, index.rs:354-420;
    algorithm in functions/stemmers_i18n.py): 'values tables' stems to
    (valu, tabl) under the German rules, matching docs that contain
    'value'/'table'."""
    from qdrant_spark.filters import apply_filter

    tp = {"text": {"stemmer": {"type": "snowball", "language": "german"}}}
    flt = {
        "must": [
            {"key": "lang", "match": {"value": "de"}},
            {"key": "text", "match": {"text": "values tables"}},
        ]
    }
    return apply_filter(_docs(spark, sf), flt, text_params=tp).select("doc_id")


# Full token vocabulary of the synthetic documents corpus (stable across
# scale factors — the generator draws from this word list). The oracle
# can't run a stemmer (DuckDB's fts extension is unavailable offline), so
# it joins tokens against this dictionary stemmed by our snowball_en —
# the stemmer itself is pinned by the golden/property tests in
# tests/test_text_tokenize.py; the oracle then independently checks the
# tokenization + stemmed-match semantics.
_DOC_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]


def _stopword_values(language: str) -> str:
    """The built-in stopword list as SQL VALUES rows (quotes doubled)."""
    from qdrant_spark.functions.stopwords import STOPWORDS

    return ", ".join(
        "('{}')".format(w.replace("'", "''")) for w in sorted(STOPWORDS[language])
    )


def _stem_map_sql(language: str = "english") -> str:
    from qdrant_spark.functions.stemmer import get_stemmer

    stem = get_stemmer(language)
    pairs = ", ".join(f"('{w}', '{stem(w)}')" for w in _DOC_VOCAB)
    return f"sm(word, stem) AS (VALUES {pairs})"


def _q_events_json(spark: SparkSession, sf: str) -> DataFrame:
    ev = _events(spark, sf)
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.withColumn("k", k).filter(F.col("k") >= 50).select("event_id", "k")


def _q_text_stats(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.functions.text import quality_features, tokenize

    df = _docs(spark, sf).withColumn("__toks", tokenize("text"))
    feats = quality_features("text", tokens=F.col("__toks"))
    return df.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        F.round(feats["mean_token_len"], 6).alias("mean_token_len"),
        F.round(feats["stopword_ratio"], 6).alias("stopword_ratio"),
        F.round(feats["punct_ratio"], 6).alias("punct_ratio"),
    )


def _q_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.functions.text import token_count

    out = _docs(spark, sf).select(
        "doc_id",
        token_count("text", "whitespace").alias("tok_ws"),
        token_count("text", "bpe").alias("tok_bpe"),
    )
    return _long(out, "tok_ws", "tok_bpe")


def _q_multimodal_wav(spark: SparkSession, sf: str) -> DataFrame:
    """REAL audio decode through the Arrow plumbing: per doc, PCM16
    samples come from a fixed arithmetic formula, get encoded to an actual
    RIFF/WAVE blob in one mapInPandas stage, and a second stage parses the
    RIFF container back (functions/codecs.decode_wav) to emit stats. The
    oracle computes the same stats from the formula directly — a decoder
    that didn't really parse the bytes could not match it."""
    import pandas as pd

    from pyspark.sql.types import DoubleType

    from qdrant_spark.functions.codecs import encode_wav, wav_features
    from qdrant_spark.functions.multimodal import extract_features

    def gen(batches):
        for pdf in batches:
            blobs = [
                encode_wav(
                    [((int(d) * 2654435761 + j * 40503) % 65536) - 32768
                     for j in range(32 + int(d) % 17)],
                    sample_rate=8000,
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    docs = _docs(spark, sf).select("doc_id")
    blobs = docs.mapInPandas(gen, "doc_id long, blob binary")
    feats = extract_features(blobs, id_col="doc_id", decode_fn=wav_features,
                             feature_type=DoubleType())
    e = F.col("embedding")
    return feats.select(
        "doc_id",
        e[0].cast("long").alias("n_samples"),
        F.round(e[2].cast("double"), 6).alias("mean_amp"),
        e[3].cast("long").alias("min_amp"),
        e[4].cast("long").alias("max_amp"),
    )


_MM_WAV_SQL = """
WITH s AS (
  SELECT doc_id,
    list_transform(range(0, 32 + doc_id % 17),
      j -> ((doc_id * 2654435761 + j * 40503) % 65536) - 32768) AS smp
  FROM documents)
SELECT doc_id,
  CAST(len(smp) AS BIGINT) AS n_samples,
  round(CAST(list_sum(smp) AS DOUBLE) / len(smp), 6) AS mean_amp,
  CAST(list_min(smp) AS BIGINT) AS min_amp,
  CAST(list_max(smp) AS BIGINT) AS max_amp
FROM s
"""


def _q_multimodal_ppm(spark: SparkSession, sf: str) -> DataFrame:
    """REAL image decode: formula pixels → actual P6 PPM blob → header+
    pixel parse (functions/codecs.decode_ppm) → per-channel means."""
    import pandas as pd

    from pyspark.sql.types import DoubleType

    from qdrant_spark.functions.codecs import encode_ppm, ppm_features
    from qdrant_spark.functions.multimodal import extract_features

    def gen(batches):
        for pdf in batches:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 4 + d % 5, 3 + d % 3
                px = bytes((d * 31 + k * 7) % 256 for k in range(w * h * 3))
                blobs.append(encode_ppm(w, h, px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    docs = _docs(spark, sf).select("doc_id")
    blobs = docs.mapInPandas(gen, "doc_id long, blob binary")
    feats = extract_features(blobs, id_col="doc_id", decode_fn=ppm_features,
                             feature_type=DoubleType())
    e = F.col("embedding")
    return feats.select(
        "doc_id",
        e[0].cast("long").alias("width"),
        e[1].cast("long").alias("height"),
        F.round(e[2].cast("double"), 6).alias("mean_r"),
        F.round(e[3].cast("double"), 6).alias("mean_g"),
        F.round(e[4].cast("double"), 6).alias("mean_b"),
    )


_MM_PPM_SQL = """
WITH g AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 3 AS h FROM documents),
c AS (
  SELECT doc_id, w, h,
    list_sum(list_transform(range(0, w * h), i -> (doc_id * 31 + (3 * i + 0) * 7) % 256)) AS sr,
    list_sum(list_transform(range(0, w * h), i -> (doc_id * 31 + (3 * i + 1) * 7) % 256)) AS sg,
    list_sum(list_transform(range(0, w * h), i -> (doc_id * 31 + (3 * i + 2) * 7) % 256)) AS sb
  FROM g)
SELECT doc_id,
  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
  round(CAST(sr AS DOUBLE) / (w * h), 6) AS mean_r,
  round(CAST(sg AS DOUBLE) / (w * h), 6) AS mean_g,
  round(CAST(sb AS DOUBLE) / (w * h), 6) AS mean_b
FROM c
"""


def _q_lang_detect(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.functions.text import detect_language, tokenize

    return _docs(spark, sf).withColumn("__toks", tokenize("text")).select(
        "doc_id", detect_language("text", tokens=F.col("__toks")).alias("lang_pred")
    )


def _q_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.functions.text import fingerprint

    return _docs(spark, sf).select("doc_id", fingerprint("text").alias("fp"))


def _lang_detect_sql() -> str:
    from qdrant_spark.functions.text import LANG_STOPWORDS

    hits = {}
    for lang in sorted(LANG_STOPWORDS):
        lst = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        hits[lang] = f"len(list_filter(toks, t -> list_contains([{lst}], t)))"
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, {hits['de']} hd, {hits['en']} he, {hits['es']} hs, {hits['fr']} hf FROM t)
SELECT doc_id,
  CASE WHEN greatest(hd, he, hs, hf) <= 0 THEN 'und'
       WHEN hd = greatest(hd, he, hs, hf) THEN 'de'
       WHEN he = greatest(hd, he, hs, hf) THEN 'en'
       WHEN hs = greatest(hd, he, hs, hf) THEN 'es'
       ELSE 'fr' END AS lang_pred
FROM h
"""


def _text_stats_sql() -> str:
    from qdrant_spark.functions.text import LANG_STOPWORDS

    stop = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    return f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id,
  len(toks) AS n_tokens,
  CASE WHEN len(toks) > 0 THEN
    CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE) / len(toks)
  ELSE 0.0 END AS mean_token_len,
  CASE WHEN len(toks) > 0 THEN
    CAST(len(list_filter(toks, x -> list_contains([{stop}], x))) AS DOUBLE) / len(toks)
  ELSE 0.0 END AS stopword_ratio,
  CASE WHEN length(text) > 0 THEN
    CAST(length(text) - length(regexp_replace(text, '[^\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE) / length(text)
  ELSE 0.0 END AS punct_ratio
FROM t)
SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       round(mean_token_len, 6) AS mean_token_len,
       round(stopword_ratio, 6) AS stopword_ratio,
       round(punct_ratio, 6) AS punct_ratio
FROM s
"""


# ---------------------------------------------------------------------------
# sparse / BM25 / dedup entries
# ---------------------------------------------------------------------------

_SHINGLES3 = (
    "list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),"
    " i -> list_aggregate(toks[i:i+2], 'string_agg', ' ')))"
)
_H63 = "('0x' || substring(md5({x}), 1, 15))::BIGINT"
_P = 2_147_483_647


def _q_sparse_knn(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.operators.sparse import doc_terms, sparse_knn_terms

    docs = _docs(spark, sf)
    terms = doc_terms(docs)
    q = {
        r["term"]: float(r["tf"])
        for r in terms.filter(F.col("doc_id") == 0).collect()
    }
    return _r6(sparse_knn_terms(terms, q, k=10), "score")


_SPARSE_KNN_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
terms AS (SELECT doc_id, term, count(*) AS tf
          FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY doc_id, term),
q AS (SELECT term, CAST(tf AS DOUBLE) AS qw FROM terms WHERE doc_id = 0),
s AS (SELECT terms.doc_id, sum(terms.tf * q.qw) AS score
      FROM terms JOIN q USING (term) GROUP BY terms.doc_id)
SELECT doc_id, round(s.score, 6) AS score FROM s ORDER BY s.score DESC, doc_id LIMIT 10
"""


def _q_sparse_knn_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Batched sparse KNN over (indices, values) columns built from doc
    terms (dims = md5-derived token hash, reproducible in DuckDB)."""
    from qdrant_spark.functions.hashes import token_hash63
    from qdrant_spark.operators.sparse import doc_terms, sparse_knn_batch

    docs = _docs(spark, sf)
    h = doc_terms(docs).withColumn("dim", token_hash63(F.col("term")))
    sv = (
        h.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("dim", "tf"))).alias("ps"))
        .select(
            "doc_id",
            F.col("ps.dim").alias("sparse_indices"),
            F.col("ps.tf").cast("array<double>").alias("sparse_values"),
        )
    )
    queries = sv.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("qid"),
        F.col("sparse_indices").alias("qindices"),
        F.col("sparse_values").alias("qvalues"),
    )
    out = sparse_knn_batch(sv, queries, k=10, id_col="doc_id")
    return _long(
        _r6(out.select("qid", "doc_id", "score", "rank"), "score"), "rank"
    )


def _q_sparse_knn_batch_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """r9: the whole batch answered by ONE inverted-index scan over the
    union of the queries' dim buckets (sparse_knn_index_batch — the
    reference walks its posting lists once for the batch); per-query
    results identical to sparse_knn_batch, and the same DuckDB oracle."""
    import tempfile

    from qdrant_spark.functions.hashes import token_hash63
    from qdrant_spark.operators.sparse import (
        build_sparse_index, doc_terms, persist_sparse_index,
        sparse_knn_index_batch)
    from pyspark.sql.window import Window

    docs = _docs(spark, sf)
    h = doc_terms(docs).withColumn("dim", token_hash63(F.col("term")))
    sv = (
        h.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("dim", "tf"))).alias("ps"))
        .select(
            "doc_id",
            F.col("ps.dim").alias("sparse_indices"),
            F.col("ps.tf").cast("array<double>").alias("sparse_values"),
        )
    )
    qs = [(int(r["doc_id"]), list(r["sparse_indices"]),
           list(r["sparse_values"]))
          for r in sv.filter(F.col("doc_id") < 3).collect()]
    idx = persist_sparse_index(
        build_sparse_index(sv, id_col="doc_id"),
        tempfile.mkdtemp(prefix="sparse_idx_b_"), buckets=64)
    out = sparse_knn_index_batch(idx, qs, k=10)
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(),
                                          F.col("doc_id").asc())
    out = out.withColumn("rank", F.row_number().over(w))
    return _long(
        _r6(out.select("qid", "doc_id", "score", "rank"), "score"), "rank"
    )


_SPARSE_KNN_BATCH_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
terms AS (SELECT doc_id, term, count(*) AS tf
          FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY doc_id, term),
h AS (SELECT doc_id, ('0x' || substring(md5(term), 1, 15))::BIGINT AS dim,
             CAST(tf AS DOUBLE) AS v FROM terms),
q AS (SELECT doc_id AS qid, dim, v AS qv FROM h WHERE doc_id < 3),
s AS (SELECT q.qid, h.doc_id, sum(h.v * q.qv) AS score
      FROM h JOIN q USING (dim) GROUP BY q.qid, h.doc_id),
r AS (SELECT qid, doc_id, score,
      row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) rn FROM s)
SELECT qid, doc_id, round(score, 6) AS score, CAST(rn AS BIGINT) AS rank
FROM r WHERE rn <= 10
"""


def _q_sparse_knn_persisted(spark: SparkSession, sf: str) -> DataFrame:
    """Sparse KNN over a PERSISTED dim-bucket-partitioned inverted index
    (the parquet analogue of the reference's per-dimension posting lists,
    lib/sparse/src/index/inverted_index/): build → persist → load →
    search; the query's dims prune partitions, the scores are identical
    to the in-memory :func:`sparse_knn` the oracle mirrors."""
    import tempfile

    from qdrant_spark.functions.hashes import token_hash63
    from qdrant_spark.operators.sparse import (
        build_sparse_index, doc_terms, persist_sparse_index,
        sparse_knn_index)

    docs = _docs(spark, sf)
    h = doc_terms(docs).withColumn("dim", token_hash63(F.col("term")))
    sv = (
        h.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("dim", "tf"))).alias("ps"))
        .select(
            "doc_id",
            F.col("ps.dim").alias("sparse_indices"),
            F.col("ps.tf").cast("array<double>").alias("sparse_values"),
        )
    )
    q_row = sv.filter(F.col("doc_id") == 0).collect()[0]
    idx = persist_sparse_index(
        build_sparse_index(sv, id_col="doc_id"),
        tempfile.mkdtemp(prefix="sparse_idx_"), buckets=64)
    out = sparse_knn_index(
        idx, list(q_row["sparse_indices"]), list(q_row["sparse_values"]),
        k=10)
    return _r6(out, "score")


def _q_sparse_knn_planned(spark: SparkSession, sf: str) -> DataFrame:
    """The r9 planner-routing path: a sparse `nearest` request through
    QueryPlanner with a registered persisted SparseIndex — the planner
    routes the leaf through the dim-bucketed inverted index (the query's
    dims become PartitionFilters) instead of re-exploding the corpus
    (lib/sparse/src/index/search_context.rs:37-91: the reference always
    searches sparse through its inverted index). Same oracle as the
    direct-operator entries."""
    import tempfile

    from qdrant_spark.functions.hashes import token_hash63
    from qdrant_spark.operators.sparse import (
        build_sparse_index, doc_terms, persist_sparse_index)
    from qdrant_spark.query import QueryPlanner

    docs = _docs(spark, sf)
    h = doc_terms(docs).withColumn("dim", token_hash63(F.col("term")))
    sv = (
        h.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("dim", "tf"))).alias("ps"))
        .select(
            "doc_id",
            F.col("ps.dim").alias("sparse_indices"),
            F.col("ps.tf").cast("array<double>").alias("sparse_values"),
        )
    )
    q_row = sv.filter(F.col("doc_id") == 0).collect()[0]
    idx = persist_sparse_index(
        build_sparse_index(sv, id_col="doc_id"),
        tempfile.mkdtemp(prefix="sparse_idx_pl_"), buckets=64)
    planner = QueryPlanner(sv, id_col="doc_id", indexes={"vec": [idx]})
    out = planner.plan({
        "query": {"nearest": {"indices": list(q_row["sparse_indices"]),
                              "values": list(q_row["sparse_values"])}},
        "limit": 10})
    assert planner.last_plan_info.get("sparse_index_leaves") == 1
    return _r6(out, "score")


def _q_sparse_idf(spark: SparkSession, sf: str) -> DataFrame:
    """Modifier::Idf (modifier.rs:13-17): query values are rescaled by the
    corpus IDF at search time; documents keep raw tf."""
    from qdrant_spark.operators.sparse import doc_terms, idf_df

    docs = _docs(spark, sf)
    n_docs = docs.count()
    terms = doc_terms(docs)
    idf = idf_df(terms, n_docs)
    q_tokens = ["fast", "hash", "join", "sort"]
    q = local_df(spark, [(t,) for t in q_tokens], "term: string")
    scored = (
        terms.join(F.broadcast(q), "term")
        .join(idf, "term")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("idf")).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )
    return _r6(scored, "score")


_SPARSE_IDF_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
terms AS (SELECT doc_id, term, count(*) AS tf
          FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY doc_id, term),
dfq AS (SELECT term, count(DISTINCT doc_id) AS nd FROM terms GROUP BY term),
q AS (SELECT unnest(['fast', 'hash', 'join', 'sort']) AS term),
sc AS (SELECT terms.doc_id,
       sum(terms.tf * ln(((SELECT count(*) FROM documents) - nd + 0.5) / (nd + 0.5) + 1.0)) AS score
       FROM terms JOIN q USING (term) JOIN dfq USING (term) GROUP BY terms.doc_id)
SELECT doc_id, round(sc.score, 6) AS score FROM sc ORDER BY sc.score DESC, doc_id LIMIT 10
"""


def _q_sparse_idf_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-filtered IDF (IdfParams types.rs:701-732, reference
    tests/openapi/test_sparse_idf_corpus.py): the document-frequency stats
    come from a FILTERED sub-corpus (lang = 'en'), while the search still
    ranks the whole corpus."""
    from qdrant_spark.filters import apply_filter
    from qdrant_spark.operators.sparse import doc_terms, idf_df

    docs = _docs(spark, sf)
    corpus = apply_filter(docs, {"must": [{"key": "lang", "match": {"value": "en"}}]})
    n_corpus = corpus.count()
    idf = idf_df(doc_terms(corpus), n_corpus)
    terms = doc_terms(docs)
    q_tokens = ["fast", "hash", "join", "sort"]
    q = local_df(spark, [(t,) for t in q_tokens], "term: string")
    scored = (
        terms.join(F.broadcast(q), "term")
        .join(F.broadcast(idf), "term")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("idf")).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )
    return _r6(scored, "score")


_SPARSE_IDF_CORPUS_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
terms AS (SELECT doc_id, term, count(*) AS tf
          FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY doc_id, term),
cterms AS (SELECT terms.* FROM terms
           JOIN documents USING (doc_id) WHERE documents.lang = 'en'),
dfq AS (SELECT term, count(DISTINCT doc_id) AS nd FROM cterms GROUP BY term),
q AS (SELECT unnest(['fast', 'hash', 'join', 'sort']) AS term),
sc AS (SELECT terms.doc_id,
       sum(terms.tf * ln(((SELECT count(*) FROM documents WHERE lang = 'en') - nd + 0.5)
                         / (nd + 0.5) + 1.0)) AS score
       FROM terms JOIN q USING (term) JOIN dfq USING (term) GROUP BY terms.doc_id)
SELECT doc_id, round(sc.score, 6) AS score FROM sc ORDER BY sc.score DESC, doc_id LIMIT 10
"""


def _q_bm25(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.operators.sparse import bm25_search

    return _r6(bm25_search(_docs(spark, sf), "fast hash join sort", k=10), "score")


_BM25_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
terms AS (SELECT doc_id, term, count(*) AS tf
          FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM t),
q AS (SELECT unnest(['fast', 'hash', 'join', 'sort']) AS term),
dfq AS (SELECT term, count(DISTINCT doc_id) AS nd FROM terms GROUP BY term),
sc AS (SELECT terms.doc_id,
       sum(ln(((SELECT count(*) FROM documents) - nd + 0.5) / (nd + 0.5) + 1.0)
           * (terms.tf * (1.2 + 1.0))
           / (terms.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / 256.0))) AS score
       FROM terms JOIN q USING (term) JOIN dfq USING (term) JOIN dl USING (doc_id)
       GROUP BY terms.doc_id)
SELECT doc_id, round(sc.score, 6) AS score FROM sc ORDER BY sc.score DESC, doc_id LIMIT 10
"""


def _q_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf))


_EXACT_DEDUP_SQL = """
WITH f AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
           FROM documents)
SELECT doc_id, fp, doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_duplicate FROM f
"""


def _q_minhash(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.operators.dedup import minhash_signatures

    sig = minhash_signatures(
        _docs(spark, sf).filter(F.col("doc_id") < 50), n_perms=16
    )
    out = sig.select("doc_id", F.posexplode("sig").alias("perm", "minv"))
    return _long(out, "perm")


def _minhash_sql() -> str:
    from qdrant_spark.functions.hashes import minhash_params

    parts = []
    for i, (a, b) in enumerate(minhash_params(16)):
        parts.append(
            f"SELECT doc_id, CAST({i} AS BIGINT) AS perm,"
            f" list_min(list_transform(hs, x -> ({a} * x + {b}) % {_P})) AS minv FROM h"
        )
    u = "\nUNION ALL\n".join(parts)
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 50),
s AS (SELECT doc_id, {_SHINGLES3} AS sh FROM t),
h AS (SELECT doc_id, list_transform(sh, x -> {_H63.format(x='x')} % {_P}) AS hs
      FROM s WHERE len(sh) > 0)
{u}
"""


def _q_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.operators.dedup import minhash_lsh_pairs

    out = minhash_lsh_pairs(
        _docs(spark, sf), n_perms=16, bands=4, jaccard_threshold=0.2
    )
    return _r6(out, "jaccard")


def _q_lsh_cross(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-corpus doc-level contamination: LSH pairs between the two
    halves of the corpus (id < 250 as 'train', >= 250 as 'benchmark')."""
    from qdrant_spark.operators.dedup import minhash_lsh_pairs_cross

    docs = _docs(spark, sf)
    out = minhash_lsh_pairs_cross(
        docs.where("doc_id < 250"), docs.where("doc_id >= 250"),
        n_perms=16, bands=4, jaccard_threshold=0.2,
    )
    return _r6(out, "jaccard")


def _lsh_cross_sql() -> str:
    base = _lsh_sql()
    # same pipeline; candidates pair the two id halves instead of a<b
    return base.replace(
        """cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
         WHERE a.doc_id < b.doc_id),""",
        """cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
         WHERE a.doc_id < 250 AND b.doc_id >= 250),""",
    )


def _lsh_sql() -> str:
    from qdrant_spark.functions.hashes import minhash_params

    sig_elems = ", ".join(
        f"list_min(list_transform(hs, x -> ({a} * x + {b}) % {_P}))"
        for a, b in minhash_params(16)
    )
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, {bnd} AS band,"
        f" md5(list_aggregate(list_transform(sig[{bnd * 4 + 1}:{bnd * 4 + 4}],"
        f" x -> CAST(x AS VARCHAR)), 'string_agg', '_')) AS key FROM sig"
        for bnd in range(4)
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {_SHINGLES3} AS sh FROM t),
s2 AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
h AS (SELECT doc_id, list_transform(sh, x -> {_H63.format(x='x')} % {_P}) AS hs FROM s2),
sig AS (SELECT doc_id, [{sig_elems}] AS sig FROM h),
bk AS ({band_rows}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
         WHERE a.doc_id < b.doc_id),
j AS (SELECT id_a, id_b,
      CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
      FROM cand JOIN s2 sa ON sa.doc_id = id_a JOIN s2 sb ON sb.doc_id = id_b)
SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM j WHERE jaccard >= 0.2
"""


def _q_dedup_components(spark: SparkSession, sf: str) -> DataFrame:
    """Connected components over the LSH near-dup pair graph (min-label
    propagation, driver-bounded loop): (id, component, is_duplicate) for
    every id that appears in a pair — the "which copy to keep" completion
    of pair-producing dedup."""
    from qdrant_spark.operators.dedup import (
        duplicate_components, minhash_lsh_pairs,
    )

    pairs = minhash_lsh_pairs(
        _docs(spark, sf), n_perms=16, bands=4, jaccard_threshold=0.2
    )
    out = duplicate_components(pairs)
    return out.select(
        "id", "component",
        (F.col("id") != F.col("component")).alias("is_duplicate"),
    )


def _components_sql() -> str:
    """Recursive-CTE connected components over the same pair SQL the
    dedup_lsh_pairs oracle uses: labels = min node id reachable."""
    base = _lsh_sql().rsplit("SELECT id_a, id_b,", 1)[0].rstrip()
    return f"""{base},
p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2),
e AS (SELECT id_a s, id_b d FROM p UNION SELECT id_b, id_a FROM p),
nodes AS (SELECT DISTINCT s AS id FROM e),
walk AS (
  SELECT id, id AS comp FROM nodes
  UNION
  SELECT e.d, w.comp FROM walk w JOIN e ON e.s = w.id
)
SELECT id, min(comp) AS component, id <> min(comp) AS is_duplicate
FROM walk GROUP BY id
"""


def _q_dedup_resolve(spark: SparkSession, sf: str) -> DataFrame:
    """Full-corpus duplicate resolution: every doc gets (component,
    is_duplicate); singletons are their own component, min id per cluster
    is the keeper."""
    from qdrant_spark.operators.dedup import (
        minhash_lsh_pairs, resolve_duplicates,
    )

    docs = _docs(spark, sf)
    pairs = minhash_lsh_pairs(docs, n_perms=16, bands=4,
                              jaccard_threshold=0.2)
    out = resolve_duplicates(docs, pairs, id_col="doc_id")
    return out.select("doc_id", "component", "is_duplicate")


def _q_substring_dup_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Repeated-passage detection: strided 64-char window hashes, a window
    seen in >= 2 distinct docs marks a duplicated span. One fixed-width
    shuffle on the span hash."""
    from qdrant_spark.operators.dedup import substring_dup_spans

    return substring_dup_spans(_docs(spark, sf))


_SUBSTRING_SPANS_SQL = r"""
WITH s AS (
  SELECT doc_id, md5(substr(text, i * 32 + 1, 64)) h
  FROM documents,
       unnest(range(0, greatest(CAST(floor((length(text) - 64) / 32.0) AS INT), 0) + 1)) t(i)
),
c AS (SELECT h, count(DISTINCT doc_id) nd FROM s GROUP BY h)
SELECT s.doc_id,
  count(*) AS n_spans,
  count(CASE WHEN c.nd >= 2 THEN 1 END) AS n_dup_spans,
  round(count(CASE WHEN c.nd >= 2 THEN 1 END) * 1.0 / count(*), 6) AS dup_span_frac
FROM s JOIN c USING (h) GROUP BY s.doc_id
"""


def _q_paragraph_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style corpus-level paragraph dedup: only the first occurrence
    (by id, position) of each repeated line survives; documents are
    reassembled. One shuffle on the paragraph value, one groupBy back."""
    from qdrant_spark.operators.dedup import paragraph_dedup

    return paragraph_dedup(_docs(spark, sf), id_col="doc_id")


_PARAGRAPH_DEDUP_SQL = r"""
WITH t AS (SELECT doc_id, string_split(text, chr(10)) l FROM documents),
p AS (SELECT doc_id, i AS pos, l[i] AS para
      FROM t, unnest(range(1, len(l) + 1)) s(i)),
f AS (SELECT doc_id, pos, para,
             (length(para) < 1 OR
              row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) = 1)
             AS kept
      FROM p)
SELECT doc_id,
  coalesce(string_agg(CASE WHEN kept THEN para END, chr(10) ORDER BY pos), '')
    AS text_clean,
  count(*) AS n_paras,
  count(CASE WHEN NOT kept THEN 1 END) AS n_removed
FROM f GROUP BY doc_id
"""


def _resolve_sql() -> str:
    base = _components_sql().rstrip()
    comp = base.rsplit("SELECT id, min(comp)", 1)[0].rstrip()
    return f"""{comp},
comps AS (SELECT id, min(comp) AS component FROM walk GROUP BY id)
SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
       coalesce(c.component, d.doc_id) <> d.doc_id AS is_duplicate
FROM documents d LEFT JOIN comps c ON c.id = d.doc_id
"""


def _q_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.operators.dedup import ngram_jaccard_pairs

    out = ngram_jaccard_pairs(
        _docs(spark, sf).filter(F.col("doc_id") < 100), threshold=0.2
    )
    return _r6(out, "jaccard")


_NGRAM_JACCARD_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 100),
s AS (SELECT doc_id, {_SHINGLES3} AS sh FROM t),
s2 AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
      FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id)
SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM p WHERE jaccard >= 0.2
"""


def _q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.operators.dedup import simhash_fingerprints

    return simhash_fingerprints(_docs(spark, sf), bits=32)


def _simhash_sql(bits: int = 32) -> str:
    terms = " + ".join(
        f"CASE WHEN 2 * len(list_filter(hs, h -> ((h >> {b}) & 1) = 1)) > len(hs)"
        f" THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(bits)
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, list_transform(toks, x -> {_H63.format(x='x')}) AS hs FROM t)
SELECT doc_id, CASE WHEN len(hs) > 0 THEN {terms} END AS simhash FROM h
"""


def _q_emb_dups(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.operators.dedup import embedding_near_dups

    out = embedding_near_dups(
        _emb(spark, sf), threshold=0.4, block_col="label"
    )
    return _r6(out, "cos")


_EMB_DUPS_SQL = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
p AS (SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
      list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
SELECT vec_id_a, vec_id_b, round(cos, 6) AS cos FROM p WHERE cos >= 0.4
"""


# ---------------------------------------------------------------------------
# remaining filter-condition entries (nested / prefix / is_empty / counts)
# ---------------------------------------------------------------------------


def _q_filter_nested(spark: SparkSession, sf: str) -> DataFrame:
    """Same-element nested semantics: both conditions must hit the SAME
    lineitem of the order (types.rs:3925-3962)."""
    from qdrant_spark.filters import apply_filter

    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    agg = li.groupBy("l_orderkey").agg(
        F.collect_list(F.struct("l_partkey", "l_quantity")).alias("items")
    )
    flt = {"must": [{"nested": {"key": "items", "filter": {"must": [
        {"key": "l_quantity", "range": {"gt": 45.0}},
        {"key": "l_partkey", "range": {"lt": 50}},
    ]}}}]}
    return apply_filter(agg, flt).select("l_orderkey")


_FILTER_NESTED_SQL = """
SELECT DISTINCT l_orderkey FROM lineitem WHERE l_quantity > 45.0 AND l_partkey < 50
"""


def _q_filter_jsonpath(spark: SparkSession, sf: str) -> DataFrame:
    """JsonPath array accessors in plain (non-nested) key paths:
    `items[].l_quantity` matches ANY element, `items[0].l_partkey` indexes
    the first element (json_path/mod.rs:24-33, value_get :319-340) —
    unlike `nested`, conditions need not hit the same element."""
    from qdrant_spark.filters import apply_filter

    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    agg = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list(F.struct("l_partkey", "l_quantity"))).alias("items")
    )
    flt = {"must": [
        {"key": "items[].l_quantity", "range": {"gt": 49.0}},
        {"key": "items[0].l_partkey", "range": {"lt": 100}},
    ]}
    return apply_filter(agg, flt).select("l_orderkey")


_FILTER_JSONPATH_SQL = """
WITH anyq AS (
  SELECT l_orderkey, bool_or(l_quantity > 49.0) AS hit
  FROM lineitem GROUP BY l_orderkey
), fst AS (
  SELECT l_orderkey, l_partkey FROM (
    SELECT l_orderkey, l_partkey,
           row_number() OVER (PARTITION BY l_orderkey
                              ORDER BY l_partkey, l_quantity) AS rn
    FROM lineitem) WHERE rn = 1
)
SELECT anyq.l_orderkey FROM anyq JOIN fst USING (l_orderkey)
WHERE anyq.hit AND fst.l_partkey < 100
"""


def _q_filter_prefix(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.filters import apply_filter

    flt = {"must": [{"key": "source", "match": {"prefix": "src1"}}]}
    return apply_filter(_docs(spark, sf), flt).select("doc_id", "source")


_FILTER_PREFIX_SQL = "SELECT doc_id, source FROM documents WHERE source LIKE 'src1%'"


def _q_filter_slice(spark: SparkSession, sf: str) -> DataFrame:
    """SliceCondition (types.rs:3905-3911): ``hash(id) % total == index``,
    composed with a payload match inside the same must-clause."""
    from qdrant_spark.filters import apply_filter

    flt = {"must": [
        {"slice": {"total": 5, "index": 2}},
        {"key": "lang", "match": {"any": ["en", "de"]}},
    ]}
    return apply_filter(_docs(spark, sf), flt).select("doc_id", "lang")


_FILTER_SLICE_SQL = """
SELECT doc_id, lang FROM documents
WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 5 = 2
  AND lang IN ('en', 'de')
"""


def _docs_with_tags(spark: SparkSession, sf: str) -> DataFrame:
    """Synthesized array payload with the reference's three-way missing /
    empty / null semantics (types.rs:3780-3806)."""
    d = _docs(spark, sf)
    tags = (
        F.when(F.col("doc_id") % 5 == 0, F.lit(None).cast("array<string>"))
        .when(F.col("doc_id") % 5 == 1, F.array().cast("array<string>"))
        .otherwise(F.array(F.col("lang")))
    )
    return d.withColumn("tags", tags).withColumn(
        "tags__isnull", F.col("doc_id") % 10 == 5
    )


def _q_filter_is_empty(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.filters import apply_filter

    out = apply_filter(
        _docs_with_tags(spark, sf), {"must": [{"is_empty": {"key": "tags"}}]}
    )
    return out.select("doc_id")


_FILTER_IS_EMPTY_SQL = """
SELECT doc_id FROM documents WHERE doc_id % 5 = 0 OR doc_id % 5 = 1
"""


def _q_filter_is_null(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.filters import apply_filter

    out = apply_filter(
        _docs_with_tags(spark, sf), {"must": [{"is_null": {"key": "tags"}}]}
    )
    return out.select("doc_id")


_FILTER_IS_NULL_SQL = "SELECT doc_id FROM documents WHERE doc_id % 10 = 5"


def _q_values_count(spark: SparkSession, sf: str) -> DataFrame:
    """values_count on the token array of each document."""
    from qdrant_spark.filters import apply_filter
    from qdrant_spark.functions.text import tokenize

    d = _docs(spark, sf).withColumn("toks", tokenize("text"))
    out = apply_filter(
        d, {"must": [{"key": "toks", "values_count": {"gte": 30, "lt": 40}}]}
    )
    return out.select("doc_id")


_VALUES_COUNT_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
SELECT doc_id FROM t WHERE len(toks) >= 30 AND len(toks) < 40
"""


def _q_query_by_id(spark: SparkSession, sf: str) -> DataFrame:
    """VectorInput::Id — the query vector is point id 7, resolved first;
    the referenced point itself is excluded from results
    (exclude_referenced_ids, collection_query.rs:523,705)."""
    from qdrant_spark.query import universal_query

    req = {"query": {"nearest": {"id": 7}}, "limit": 10}
    out = universal_query(_emb(spark, sf), req, id_col="vec_id", vec_col="embedding")
    return _r6(out, "score")


def _q_recommend_multi_ids(spark: SparkSession, sf: str) -> DataFrame:
    """Recommend where every position is a point ID (VectorInput::Id,
    collection_query.rs:147-152), resolved through a NAMED lookup_from
    collection — the planner batch-resolves all 6 ids with ONE scan of the
    lookup table (fetch_vectors.rs batching), not per-id round-trips."""
    from qdrant_spark.query import universal_query

    emb = _emb(spark, sf)
    req = {
        "query": {"recommend": {
            "positive": [{"id": 1}, {"id": 2}, {"id": 11}, {"id": 12}],
            "negative": [{"id": 3}, {"id": 21}],
            "strategy": "average_vector",
        }},
        "lookup_from": {"collection": "emb_lookup", "vector": "embedding"},
        "limit": 8,
    }
    out = universal_query(emb, req, id_col="vec_id", vec_col="embedding",
                          metric="dot", collections={"emb_lookup": emb})
    return _r6(out, "score")


_RECO_MULTI_SQL = """
WITH pc AS (
  SELECT i, avg(x) AS ax FROM (
    SELECT generate_subscripts(CAST(embedding AS DOUBLE[]), 1) i,
           unnest(CAST(embedding AS DOUBLE[])) x
    FROM embeddings WHERE vec_id IN (1, 2, 11, 12)) GROUP BY i),
nc AS (
  SELECT i, avg(x) AS ax FROM (
    SELECT generate_subscripts(CAST(embedding AS DOUBLE[]), 1) i,
           unnest(CAST(embedding AS DOUBLE[])) x
    FROM embeddings WHERE vec_id IN (3, 21)) GROUP BY i),
q AS (SELECT list(pc.ax + pc.ax - nc.ax ORDER BY pc.i) qv
      FROM pc JOIN nc ON pc.i = nc.i),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
s AS (SELECT e.vec_id, list_dot_product(e.v, q.qv) AS score FROM e, q)
SELECT vec_id, round(s.score, 6) AS score FROM s ORDER BY s.score DESC, vec_id LIMIT 8
"""


_QUERY_BY_ID_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 7),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
      WHERE vec_id <> 7),
s AS (SELECT e.vec_id,
      list_dot_product(e.v, q.qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS score
      FROM e, q)
SELECT vec_id, round(s.score, 6) AS score FROM s ORDER BY s.score DESC, vec_id LIMIT 10
"""


# ---------------------------------------------------------------------------
# geo entries (synthetic deterministic coordinates from events columns)
# ---------------------------------------------------------------------------

_GEO_LAT = "(value % 180.0) - 90.0"          # value >= 0 -> % == pmod
_GEO_LON = "((user_id * 3.7) % 360.0) - 180.0"

_POLY = {
    "exterior": {"points": [
        {"lon": -175.0, "lat": -85.0}, {"lon": -105.0, "lat": -80.0},
        {"lon": -100.0, "lat": -35.0}, {"lon": -150.0, "lat": -30.0},
        {"lon": -178.0, "lat": -50.0},
    ]},
    "interiors": [{"points": [
        {"lon": -160.0, "lat": -70.0}, {"lon": -130.0, "lat": -70.0},
        {"lon": -130.0, "lat": -50.0}, {"lon": -160.0, "lat": -50.0},
    ]}],
}


def _events_geo(spark: SparkSession, sf: str) -> DataFrame:
    ev = _events(spark, sf)
    lat = F.pmod(F.col("value"), F.lit(180.0)) - F.lit(90.0)
    lon = F.pmod(F.col("user_id") * F.lit(3.7), F.lit(360.0)) - F.lit(180.0)
    return ev.withColumn("location", F.struct(lon.alias("lon"), lat.alias("lat")))


def _q_geo(kind: str):
    def run(spark: SparkSession, sf: str) -> DataFrame:
        from qdrant_spark.filters import apply_filter

        if kind == "radius":
            cond = {"key": "location", "geo_radius":
                    {"center": {"lat": -60.0, "lon": -150.0, }, "radius": 3_000_000.0}}
        elif kind == "bbox":
            cond = {"key": "location", "geo_bounding_box":
                    {"top_left": {"lat": 60.0, "lon": 170.0},
                     "bottom_right": {"lat": -60.0, "lon": -170.0}}}
        else:
            cond = {"key": "location", "geo_polygon": _POLY}
        return apply_filter(_events_geo(spark, sf), {"must": [cond]}).select("event_id")

    return run


def _q_geo_indexed_radius(spark: SparkSession, sf: str) -> DataFrame:
    """geo_radius through the geo cell index: driver-side covering-cell set
    prunes the scan (partition pruning on a cell-partitioned table), exact
    haversine decides membership — identical results to the plain filter,
    so the oracle is the same SQL (reference geo field index shape,
    lib/segment/src/index/field_index/geo_index/)."""
    from qdrant_spark.operators.geo_index import add_geo_cells, geo_pruned_filter

    cond = {"key": "location", "geo_radius":
            {"center": {"lat": -60.0, "lon": -150.0}, "radius": 3_000_000.0}}
    pts = add_geo_cells(_events_geo(spark, sf), "location", precision_deg=5.0)
    return geo_pruned_filter(pts, cond, precision_deg=5.0).select("event_id")


def _ring_sql(ring: list[dict]) -> str:
    """XOR-parity ray casting, mirroring filters._ring_crossings edge by edge."""
    terms = []
    n = len(ring)
    for i in range(n):
        x1, y1 = float(ring[i]["lon"]), float(ring[i]["lat"])
        x2, y2 = float(ring[(i + 1) % n]["lon"]), float(ring[(i + 1) % n]["lat"])
        if y1 == y2:
            continue
        terms.append(
            f"(CASE WHEN (({y1} > lat) <> ({y2} > lat)) AND"
            f" (lon < ({x2} - {x1}) * (lat - {y1}) / ({y2} - {y1}) + {x1})"
            f" THEN 1 ELSE 0 END)"
        )
    return "((" + " + ".join(terms) + ") % 2 = 1)"


def _geo_sql(kind: str) -> str:
    base = f"g AS (SELECT event_id, {_GEO_LAT} AS lat, {_GEO_LON} AS lon FROM events)"
    if kind == "radius":
        hav = (
            "2.0 * 6371000.0 * asin(sqrt("
            "pow(sin(radians(-60.0 - lat) / 2), 2)"
            " + cos(radians(lat)) * cos(radians(-60.0))"
            " * pow(sin(radians(-150.0 - lon) / 2), 2)))"
        )
        return f"WITH {base} SELECT event_id FROM g WHERE {hav} < 3000000.0"
    if kind == "bbox":
        return (
            f"WITH {base} SELECT event_id FROM g "
            "WHERE lat <= 60.0 AND lat >= -60.0 AND (lon >= 170.0 OR lon <= -170.0)"
        )
    inside = _ring_sql(_POLY["exterior"]["points"])
    hole = _ring_sql(_POLY["interiors"][0]["points"])
    return f"WITH {base} SELECT event_id FROM g WHERE {inside} AND NOT {hole}"


# ---------------------------------------------------------------------------
# formula / planner / mutation / mmr / ann entries
# ---------------------------------------------------------------------------


def _q_formula(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.operators.formula import rescore_formula
    from qdrant_spark.operators.knn import knn

    q = _vecs(spark, sf, [0])[0]
    scored = knn(
        _emb(spark, sf), q, metric="cosine", k=50, vec_col="embedding",
        id_col="vec_id", select=["vec_id", "label", "score"],
    )
    formula = {
        "sum": [
            {"mult": [0.7, "$score"]},
            {"mult": [0.3, {"gauss_decay": {"x": "label", "target": 5.0, "scale": 3.0}}]},
        ]
    }
    out = rescore_formula(scored, formula, id_col="vec_id", limit=10)
    return _r6(out.select("vec_id", "score"), "score")


_FORMULA_SQL = f"""
WITH {_Q_CTE}, {_E_CTE},
c AS (SELECT e.vec_id, e.label, {_SQL_DIST['cosine']} AS score FROM e, q
      ORDER BY score DESC, vec_id LIMIT 50),
r AS (SELECT vec_id,
      0.7 * score + 0.3 * exp((ln(0.5) / (3.0 * 3.0))
        * (abs(CAST(label AS DOUBLE) - 5.0) * abs(CAST(label AS DOUBLE) - 5.0))) AS score
      FROM c)
SELECT vec_id, round(r.score, 6) AS score FROM r ORDER BY r.score DESC, vec_id LIMIT 10
"""


def _q_universal_hybrid_sparse(spark: SparkSession, sf: str) -> DataFrame:
    """THE qdrant hybrid-search shape: dense prefetch + sparse prefetch
    over the same points, fused with RRF at the top (universal Query API,
    collection_query.rs:90-106). doc_id and vec_id coincide in the
    testdata, so one points table carries both the embedding and the
    text-derived sparse vector."""
    from qdrant_spark.functions.hashes import token_hash63
    from qdrant_spark.operators.sparse import doc_terms
    from qdrant_spark.query import universal_query

    emb = _emb(spark, sf)
    docs = _docs(spark, sf)
    h = doc_terms(docs).withColumn("dim", token_hash63(F.col("term")))
    sv = (
        h.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("dim", "tf"))).alias("ps"))
        .select(
            F.col("doc_id").alias("vec_id"),
            F.col("ps.dim").alias("sparse_indices"),
            F.col("ps.tf").cast("array<float>").alias("sparse_values"),
        )
    )
    pts = emb.join(sv, "vec_id", "left")
    q = _vecs(spark, sf, [0])[0]
    q_terms = sorted(
        (r["dim"], float(r["tf"]))
        for r in h.filter(F.col("doc_id") == 0).collect()
    )
    req = {
        "prefetch": [
            {"query": {"nearest": q}, "limit": 20},
            {"query": {"nearest": {"indices": [d for d, _ in q_terms],
                                   "values": [v for _, v in q_terms]}},
             "limit": 20},
        ],
        "query": {"fusion": "rrf"},
        "limit": 10,
    }
    out = universal_query(pts, req, id_col="vec_id", vec_col="embedding")
    return _r6(out, "score")


_UNIVERSAL_HYBRID_SPARSE_SQL = f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
da AS (SELECT e.vec_id,
       list_dot_product(e.v, q.qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS score
       FROM e, q ORDER BY score DESC, vec_id LIMIT 20),
t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
terms AS (SELECT doc_id, term, count(*) AS tf
          FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY doc_id, term),
h AS (SELECT doc_id, ('0x' || substring(md5(term), 1, 15))::BIGINT AS dim,
             CAST(tf AS DOUBLE) AS v FROM terms),
sq AS (SELECT dim, v AS qv FROM h WHERE doc_id = 0),
sb AS (SELECT h.doc_id AS vec_id, sum(h.v * sq.qv) AS score
       FROM h JOIN sq USING (dim)
       WHERE h.doc_id IN (SELECT vec_id FROM embeddings)
       GROUP BY h.doc_id
       ORDER BY score DESC, vec_id LIMIT 20),
ra AS (SELECT vec_id, row_number() OVER (ORDER BY score DESC, vec_id) - 1 AS pos FROM da),
rb AS (SELECT vec_id, row_number() OVER (ORDER BY score DESC, vec_id) - 1 AS pos FROM sb),
u AS (SELECT vec_id, 1.0 / (CAST(pos + 1 AS DOUBLE) + 1.0) AS c FROM ra
      UNION ALL
      SELECT vec_id, 1.0 / (CAST(pos + 1 AS DOUBLE) + 1.0) AS c FROM rb),
f AS (SELECT vec_id, sum(c) AS score FROM u GROUP BY vec_id)
SELECT vec_id, round(score, 6) AS score FROM f ORDER BY f.score DESC, vec_id LIMIT 10
"""


def _q_knn_uint8(spark: SparkSession, sf: str) -> DataFrame:
    """Exact KNN over uint8 packed storage (VectorDataType::Uint8,
    lib/segment/src/data_types/vectors.rs): corpus stored 1 byte/dim with
    a global affine range, scored at storage precision — the oracle
    replicates the floor(x+0.5) encode/decode in SQL."""
    from qdrant_spark.operators.datatypes import knn_packed, pack_vectors

    emb = _emb(spark, sf)
    packed = pack_vectors(emb, vec_col="embedding", id_col="vec_id",
                          dtype="uint8")
    q = _vecs(spark, sf, [0])[0]
    out = knn_packed(packed, q, metric="cosine", k=10)
    return _r6(out, "score")


_KNN_UINT8_SQL = f"""
WITH {_Q_CTE}, {_E_CTE},
r AS (SELECT min(u) AS lo, max(u) AS hi
      FROM (SELECT unnest(v) AS u FROM e)),
d AS (SELECT e.vec_id,
             list_transform(e.v, x ->
                 floor((x - r.lo) * 255.0 / (r.hi - r.lo) + 0.5)
                 * (r.hi - r.lo) / 255.0 + r.lo) AS dv
      FROM e, r),
s AS (SELECT d.vec_id,
             list_dot_product(d.dv, q.qv) /
             (sqrt(list_dot_product(d.dv, d.dv)) *
              sqrt(list_dot_product(q.qv, q.qv))) AS score
      FROM d, q)
SELECT vec_id, round(score, 6) AS score FROM s
ORDER BY score DESC, vec_id LIMIT 10
"""


def _q_query_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Batch universal query (points/query/batch, src/actix/api/query_api.rs):
    heterogeneous requests — plain nearest + filtered nearest — planned
    independently and unioned with request_idx."""
    from qdrant_spark.query import query_batch

    vs = _vecs(spark, sf, [0, 1])
    reqs = [
        {"query": {"nearest": vs[0]}, "limit": 10},
        {"query": {"nearest": vs[1]}, "limit": 10,
         "filter": {"must": [{"key": "label", "range": {"lt": 5}}]}},
    ]
    out = query_batch(_emb(spark, sf), reqs, id_col="vec_id",
                      vec_col="embedding")
    return _r6(out, "score")


_QUERY_BATCH_SQL = f"""
WITH {_E_CTE},
q0 AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0),
q1 AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 1),
a AS (SELECT 0 AS request_idx, e.vec_id,
             {_SQL_DIST['cosine'].replace('q.qv', 'q0.qv')} AS score
      FROM e, q0 ORDER BY score DESC, e.vec_id LIMIT 10),
b AS (SELECT 1 AS request_idx, e.vec_id,
             {_SQL_DIST['cosine'].replace('q.qv', 'q1.qv')} AS score
      FROM e, q1 WHERE e.label < 5 ORDER BY score DESC, e.vec_id LIMIT 10)
SELECT request_idx, vec_id, round(score, 6) AS score
FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
"""


def _q_universal_groups(spark: SparkSession, sf: str) -> DataFrame:
    """points/query/groups: universal query -> oversampled candidates ->
    one-pass two-window grouping (QueryPlanner.plan_groups)."""
    from qdrant_spark.query import QueryPlanner

    q = _vecs(spark, sf, [0])[0]
    planner = QueryPlanner(_emb(spark, sf), id_col="vec_id",
                           default_vec_col="embedding", metric="cosine")
    out = planner.plan_groups(
        {"query": {"nearest": q}, "using": "embedding"},
        group_by_field="label", groups=5, group_size=3, oversample=4,
    ).select("group_value", "vec_id", "score", "rank_in_group", "group_rank")
    return _long(_r6(out, "score"), "rank_in_group", "group_rank")


_UNIVERSAL_GROUPS_SQL = f"""
WITH {_Q_CTE}, {_E_CTE},
c AS (SELECT e.vec_id, e.label, {_SQL_DIST['cosine']} AS score FROM e, q
      ORDER BY score DESC, vec_id LIMIT 60),
g AS (SELECT label AS group_value, vec_id, score,
      row_number() OVER (PARTITION BY label ORDER BY score DESC, vec_id) rig
      FROM c),
g2 AS (SELECT *, max(CASE WHEN rig = 1 THEN score END)
       OVER (PARTITION BY group_value) best FROM g WHERE rig <= 3),
g3 AS (SELECT *, dense_rank() OVER (ORDER BY best DESC, group_value) gr FROM g2)
SELECT group_value, vec_id, round(g3.score, 6) AS score,
       CAST(rig AS BIGINT) AS rank_in_group, CAST(gr AS BIGINT) AS group_rank
FROM g3 WHERE gr <= 5
"""


def _q_universal_groups_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """points/query/groups with the leaf ROUTED through a registered
    sparse inverted index (r10: groups x routed-index had no driver
    entry): the oversampled candidate pass reads posting lists instead of
    re-exploding the corpus, then the one-pass two-window grouping runs
    unchanged (grouping sits ABOVE leaf dispatch in the reference too,
    group_by.rs over a regular shard query). Sparse vectors derive
    deterministically from the embeddings table (dims {vec_id % 5, 50},
    values {label + 1, vec_id % 11 + 1}), so the oracle replays the index
    search exactly — the inverted index is an exact structure."""
    from qdrant_spark.operators.sparse import build_sparse_index
    from qdrant_spark.query import QueryPlanner

    df = (_emb(spark, sf).select("vec_id", "label")
          .withColumn("sparse_indices",
                      F.array((F.col("vec_id") % 5).cast("long"),
                              F.lit(50).cast("long")))
          .withColumn("sparse_values",
                      F.array(F.col("label").cast("double") + 1.0,
                              (F.col("vec_id") % 11).cast("double") + 1.0)))
    idx = build_sparse_index(df, id_col="vec_id")
    planner = QueryPlanner(df, id_col="vec_id", metric="dot",
                           indexes={"vec": [idx]})
    out = planner.plan_groups(
        {"query": {"nearest": {"indices": [2, 50], "values": [1.0, 0.5]}}},
        group_by_field="label", groups=5, group_size=3, oversample=4,
    ).select("group_value", "vec_id", "score", "rank_in_group",
             "group_rank")
    assert planner.last_plan_info.get("sparse_index_leaves") == 1
    return _long(_r6(out, "score"), "rank_in_group", "group_rank")


_UNIVERSAL_GROUPS_INDEXED_SQL = """
WITH e AS (SELECT vec_id, label,
                  CASE WHEN vec_id % 5 = 2 THEN 1.0 * (label + 1.0)
                       ELSE 0.0 END
                  + 0.5 * (vec_id % 11 + 1.0) AS score
           FROM embeddings),
c AS (SELECT vec_id, label, score FROM e
      ORDER BY score DESC, vec_id LIMIT 60),
g AS (SELECT label AS group_value, vec_id, score,
      row_number() OVER (PARTITION BY label ORDER BY score DESC, vec_id) rig
      FROM c),
g2 AS (SELECT *, max(CASE WHEN rig = 1 THEN score END)
       OVER (PARTITION BY group_value) best FROM g WHERE rig <= 3),
g3 AS (SELECT *, dense_rank() OVER (ORDER BY best DESC, group_value) gr FROM g2)
SELECT group_value, vec_id, round(g3.score, 6) AS score,
       CAST(rig AS BIGINT) AS rank_in_group, CAST(gr AS BIGINT) AS group_rank
FROM g3 WHERE gr <= 5
"""


def _q_universal_hybrid(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.query import universal_query

    q = _vecs(spark, sf, [0])[0]
    req = {
        "prefetch": [
            {"query": {"nearest": q}, "limit": 30},
            {"query": {"nearest": q}, "limit": 30,
             "filter": {"must": [{"key": "label", "range": {"lt": 5}}]}},
        ],
        "query": {"fusion": "rrf"},
        "limit": 10,
    }
    out = universal_query(_emb(spark, sf), req, id_col="vec_id", vec_col="embedding")
    return _r6(out, "score")


_UNIVERSAL_HYBRID_SQL = f"""
WITH {_Q_CTE}, {_E_CTE},
ca AS (SELECT e.vec_id, {_SQL_DIST['cosine']} AS score FROM e, q
       ORDER BY score DESC, vec_id LIMIT 30),
cb AS (SELECT e.vec_id, {_SQL_DIST['cosine']} AS score FROM e, q
       WHERE e.label < 5 ORDER BY score DESC, vec_id LIMIT 30),
ra AS (SELECT vec_id, row_number() OVER (ORDER BY score DESC, vec_id) - 1 AS pos FROM ca),
rb AS (SELECT vec_id, row_number() OVER (ORDER BY score DESC, vec_id) - 1 AS pos FROM cb),
u AS (SELECT vec_id, 1.0 / (CAST(pos + 1 AS DOUBLE) / 1.0 + 2 - 1.0) AS c FROM ra
      UNION ALL
      SELECT vec_id, 1.0 / (CAST(pos + 1 AS DOUBLE) / 1.0 + 2 - 1.0) AS c FROM rb),
f AS (SELECT vec_id, sum(c) AS score FROM u GROUP BY vec_id)
SELECT vec_id, round(f.score, 6) AS score FROM f ORDER BY f.score DESC, vec_id LIMIT 10
"""


def _q_client_e2e(spark: SparkSession, sf: str) -> DataFrame:
    """The client-facade flagship: a migrating qdrant user's literal call
    sequence — create_collection, upsert PointStruct dicts, filtered
    query_points by POINT ID (qdrant_spark/client.py; reference REST
    surface src/actix/api/query_api.rs). Exercises payload type inference,
    hydration, and the referenced-id exclusion
    (exclude_referenced_ids, collection_query.rs:523,705)."""
    from qdrant_spark.client import QdrantSparkClient

    rows = _emb_rows500(spark, sf)
    dim = len(rows[0]["embedding"])
    c = QdrantSparkClient(spark)
    c.create_collection("entry_corpus",
                        vectors_config={"size": dim, "distance": "Dot"})
    c.upsert("entry_corpus", [
        {"id": int(r["vec_id"]),
         "vector": [float(x) for x in r["embedding"]],
         "payload": {"label": int(r["label"])}}
        for r in rows])
    res = c.query_points(
        "entry_corpus", query=7,
        query_filter={"must": [{"key": "label", "match": {"value": 1}}]},
        limit=10, with_payload=False)
    return local_df(spark, 
        [(p.id, round(p.score, 6)) for p in res.points],
        "vec_id long, score double")


_CLIENT_E2E_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 7),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
      WHERE vec_id < 500 AND vec_id <> 7 AND label = 1)
SELECT e.vec_id, round(list_dot_product(e.v, q.qv), 6) AS score
FROM e, q ORDER BY score DESC, vec_id LIMIT 10
"""


def _q_quantized_planned(spark: SparkSession, sf: str) -> DataFrame:
    """Declared quantization through the full client+planner stack (r10):
    create_collection(quantization_config={"scalar": ...}) +
    ensure_vector_index builds the int8 codes, and query_points then
    transparently runs the coarse+rescore two-stage plan, per-request
    tuned via SearchParams.quantization (QuantizationSearchParams,
    types.rs:573-628; storage quantized from the config exactly as
    lib/segment/src/vector_storage/quantized/quantized_vectors.rs).
    Rescore is exact, so with ample oversampling the answer equals the
    exact cosine scan and the oracle asserts equality."""
    from qdrant_spark.client import QdrantSparkClient

    rows = _emb_rows500(spark, sf)
    dim = len(rows[0]["embedding"])
    c = QdrantSparkClient(spark)
    # full_scan_threshold 0 pins the quantized route: 500 rows sit far
    # below the exact-vs-quantized crossover the planner applies by
    # default (quantize.QUANT_FULL_SCAN_THRESHOLD)
    c.create_collection(
        "entry_quant",
        vectors_config={"size": dim, "distance": "Cosine"},
        quantization_config={"scalar": {"type": "int8", "quantile": 0.99,
                                        "full_scan_threshold": 0}})
    c.upsert("entry_quant", [
        {"id": int(r["vec_id"]),
         "vector": [float(x) for x in r["embedding"]]}
        for r in rows])
    assert c.ensure_vector_index("entry_quant", indexing_threshold=0) \
        == "built"
    q = [float(x) for x in rows[0]["embedding"]]
    res = c.query_points(
        "entry_quant", query=q, limit=10, with_payload=False,
        search_params={"quantization": {"rescore": True,
                                        "oversampling": 8.0}})
    return local_df(spark, 
        [(p.id, round(p.score, 6)) for p in res.points],
        "vec_id long, score double")


_QUANT_PLANNED_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
      WHERE vec_id < 500)
SELECT e.vec_id,
       round(list_dot_product(e.v, q.qv) /
             (sqrt(list_dot_product(e.v, e.v)) *
              sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
FROM e, q ORDER BY score DESC, vec_id LIMIT 10
"""


def _q_quantized_ivf_planned(spark: SparkSession, sf: str) -> DataFrame:
    """Composed quantization x IVF through the full client+planner stack
    (r11): create_collection(quantization_config={"scalar": ...}) +
    ensure_vector_index(n_clusters=8, nprobe=8) builds ONE
    cluster-partitioned (id, __cluster, int8-code) storage, and
    query_points routes probe-clusters -> score-codes -> exact-rescore —
    the reference's flagship ANN deployment, HNSW search over quantized
    codes with raw-vector rescore (lib/segment/src/index/hnsw_index/
    hnsw.rs quantized scorer path; integration test
    hnsw_quantized_search_test.rs). Full probe + ample oversampling makes
    the answer equal the exact cosine scan, which the oracle recomputes;
    a partial-probe plan test lives in tests/test_quant_ivf.py."""
    from qdrant_spark.client import QdrantSparkClient

    rows = _emb_rows500(spark, sf)
    dim = len(rows[0]["embedding"])
    c = QdrantSparkClient(spark)
    c.create_collection(
        "entry_qivf",
        vectors_config={"size": dim, "distance": "Cosine"},
        quantization_config={"scalar": {"type": "int8", "quantile": 0.99,
                                        "full_scan_threshold": 0}})
    c.upsert("entry_qivf", [
        {"id": int(r["vec_id"]),
         "vector": [float(x) for x in r["embedding"]]}
        for r in rows])
    assert c.ensure_vector_index("entry_qivf", n_clusters=8, nprobe=8,
                                 indexing_threshold=0) == "built"
    assert "" in c._coll("entry_qivf").quant_ivf  # composed, not codes-only
    q = [float(x) for x in rows[5]["embedding"]]
    res = c.query_points(
        "entry_qivf", query=q, limit=10, with_payload=False,
        search_params={"quantization": {"rescore": True,
                                        "oversampling": 8.0}})
    return local_df(spark, 
        [(p.id, round(p.score, 6)) for p in res.points],
        "vec_id long, score double")


_QUANT_IVF_PLANNED_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 5),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
      WHERE vec_id < 500)
SELECT e.vec_id,
       round(list_dot_product(e.v, q.qv) /
             (sqrt(list_dot_product(e.v, e.v)) *
              sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
FROM e, q ORDER BY score DESC, vec_id LIMIT 10
"""


def _q_sparse_idf_by_id(spark: SparkSession, sf: str) -> DataFrame:
    """Id-referenced sparse query against a Modifier::Idf vector (r10):
    the client resolves the referenced point's stored sparse vector FIRST
    and THEN applies the IDF rescale — the reference's
    resolve-then-preprocess order (fetch_vectors.rs resolves VectorInput
    ids before query preprocessing applies the modifier) — and excludes
    the referenced id (exclude_referenced_ids,
    collection_query.rs:523,705). Sparse vectors derive deterministically
    from the embeddings table: point i carries dims {i % 5, 50} with
    values {label_i + 1, (i % 11) + 1}, so the oracle replays the whole
    BM25-convention IDF pipeline in SQL."""
    from qdrant_spark.client import QdrantSparkClient

    rows = (_emb(spark, sf).select("vec_id", "label")
            .filter(F.col("vec_id") < 300).orderBy("vec_id").collect())
    c = QdrantSparkClient(spark)
    c.create_collection(
        "entry_idf_by_id",
        vectors_config={"size": 2, "distance": "Dot"},
        sparse_vectors_config={"t": {"modifier": "idf"}})
    c.upsert("entry_idf_by_id", [
        {"id": int(r["vec_id"]),
         "vector": {"": [1.0, 0.0],
                    "t": {"indices": [int(r["vec_id"]) % 5, 50],
                          "values": [float(r["label"]) + 1.0,
                                     float(int(r["vec_id"]) % 11) + 1.0]}}}
        for r in rows])
    res = c.query_points("entry_idf_by_id", query=7, using="t",
                         limit=10, with_payload=False)
    return local_df(spark, 
        [(p.id, round(p.score, 6)) for p in res.points],
        "vec_id long, score double")


# BM25-convention IDF (sparse.idf_df): ln((N - n_d + 0.5)/(n_d + 0.5) + 1)
# over N=300 docs; the query is point 7's stored vector (dims {2, 50},
# values {label_7 + 1, 8}), rescaled per dim, with point 7 excluded.
_SPARSE_IDF_BY_ID_SQL = """
WITH e AS (SELECT vec_id, label FROM embeddings WHERE vec_id < 300),
n AS (SELECT
        CAST((SELECT count(*) FROM e) AS DOUBLE) AS nd,
        CAST((SELECT count(*) FROM e WHERE vec_id % 5 = 2) AS DOUBLE) AS n2),
idf AS (SELECT ln((nd - n2 + 0.5) / (n2 + 0.5) + 1) AS i2,
               ln(0.5 / (nd + 0.5) + 1) AS i50 FROM n),
q AS (SELECT (SELECT label FROM e WHERE vec_id = 7) + 1.0 AS q2,
             8.0 AS q50),
s AS (SELECT e.vec_id,
             CASE WHEN e.vec_id % 5 = 2
                  THEN q.q2 * idf.i2 * (e.label + 1.0) ELSE 0.0 END
             + q.q50 * idf.i50 * (e.vec_id % 11 + 1.0) AS score
      FROM e, q, idf WHERE e.vec_id <> 7)
SELECT vec_id, round(score, 6) AS score FROM s
ORDER BY s.score DESC, vec_id LIMIT 10
"""


def _q_universal_rescore(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.query import universal_query

    v = _vecs(spark, sf, [0, 7])
    req = {
        "prefetch": [{"query": {"nearest": v[0]}, "limit": 100}],
        "query": {"nearest": v[7]},
        "limit": 10,
    }
    out = universal_query(_emb(spark, sf), req, id_col="vec_id", vec_col="embedding")
    return _r6(out, "score")


_UNIVERSAL_RESCORE_SQL = f"""
WITH {_Q_CTE}, {_E_CTE},
q7 AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 7),
c AS (SELECT e.vec_id, {_SQL_DIST['cosine']} AS score FROM e, q
      ORDER BY score DESC, vec_id LIMIT 100),
s AS (SELECT e.vec_id,
      list_dot_product(e.v, q7.qv)
      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q7.qv, q7.qv))) AS score
      FROM e JOIN c USING (vec_id), q7)
SELECT vec_id, round(s.score, 6) AS score FROM s ORDER BY s.score DESC, vec_id LIMIT 10
"""


def _q_upsert(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.operators.mutate import upsert_points

    ups = local_df(spark, 
        [(0, 99), (1, 99), (10001, 99)], "vec_id: long, label: int"
    )
    out = upsert_points(_emb(spark, sf), ups, id_col="vec_id")
    return out.filter(F.col("vec_id").isin([0, 1, 10001])).select("vec_id", "label")


_UPSERT_SQL = """
WITH up AS (SELECT * FROM (VALUES (0, 99), (1, 99), (10001, 99)) v(vec_id, label)),
merged AS (
  SELECT vec_id, label FROM embeddings WHERE vec_id NOT IN (SELECT vec_id FROM up)
  UNION ALL SELECT vec_id, label FROM up)
SELECT vec_id, CAST(label AS INTEGER) AS label FROM merged WHERE vec_id IN (0, 1, 10001)
"""


def _q_sync(spark: SparkSession, sf: str) -> DataFrame:
    """SyncPoints (point_ops.rs:121-123): make id range [100, 200) exactly
    equal the batch — absent range ids deleted, batch rows replace/insert."""
    from qdrant_spark.operators.mutate import sync_points

    batch = local_df(spark, 
        [(100, 77), (150, 77), (199, 77)], "vec_id: long, label: int"
    )
    out = sync_points(_emb(spark, sf), batch, from_id=100, to_id=200,
                      id_col="vec_id")
    return (out.filter(F.col("vec_id").between(90, 209))
               .select("vec_id", "label"))


_SYNC_SQL = """
WITH batch AS (SELECT * FROM (VALUES (100, 77), (150, 77), (199, 77)) v(vec_id, label)),
merged AS (
  SELECT vec_id, label FROM embeddings WHERE vec_id < 100 OR vec_id >= 200
  UNION ALL SELECT vec_id, label FROM batch)
SELECT vec_id, CAST(label AS INTEGER) AS label FROM merged
WHERE vec_id BETWEEN 90 AND 209
"""


def _q_upsert_conditional(spark: SparkSession, sf: str) -> DataFrame:
    """UpsertPointsConditional (point_ops.rs:116-117): replace only where
    the CURRENT row matches the filter; unknown ids always insert."""
    from qdrant_spark.operators.mutate import upsert_points_conditional

    ups = local_df(spark, 
        [(0, 77), (1, 77), (10001, 77)], "vec_id: long, label: int"
    )
    flt = {"must": [{"key": "label", "range": {"lte": 4}}]}
    out = upsert_points_conditional(_emb(spark, sf), ups, flt, id_col="vec_id")
    return out.filter(F.col("vec_id").isin([0, 1, 10001])).select("vec_id", "label")


_UPSERT_COND_SQL = """
WITH up AS (SELECT * FROM (VALUES (0, 77), (1, 77), (10001, 77)) v(vec_id, label)),
m AS (SELECT vec_id FROM embeddings WHERE label <= 4),
kept AS (SELECT e.vec_id, e.label FROM embeddings e
         WHERE NOT (e.vec_id IN (SELECT vec_id FROM m)
                    AND e.vec_id IN (SELECT vec_id FROM up))),
repl AS (SELECT up.vec_id, up.label FROM up JOIN m USING (vec_id)),
ins AS (SELECT up.vec_id, up.label FROM up
        WHERE vec_id NOT IN (SELECT vec_id FROM embeddings)),
merged AS (SELECT * FROM kept UNION ALL SELECT * FROM repl
           UNION ALL SELECT * FROM ins)
SELECT vec_id, CAST(label AS INTEGER) AS label FROM merged
WHERE vec_id IN (0, 1, 10001)
"""


def _q_update_vectors(spark: SparkSession, sf: str) -> DataFrame:
    """UpdateVectors (vector_ops.rs:12-19): replace the named vector of
    existing points, leave everything else. Verified via the vector sum so
    the oracle compares scalars, not float arrays."""
    from qdrant_spark.operators.mutate import update_vectors

    new_vec = [0.5] * 64
    ups = local_df(spark, [(0, new_vec)], "vec_id: long, embedding: array<float>")
    out = update_vectors(_emb(spark, sf), ups, ["embedding"], id_col="vec_id")
    s = F.aggregate(
        F.col("embedding").cast("array<double>"), F.lit(0.0), lambda a, x: a + x
    )
    return (
        out.filter(F.col("vec_id").isin([0, 1]))
        .select("vec_id", F.round(s, 6).alias("s"))
    )


_UPDATE_VECTORS_SQL = """
SELECT vec_id,
       round(CASE WHEN vec_id = 0 THEN 32.0
                  ELSE list_sum(CAST(embedding AS DOUBLE[])) END, 6) AS s
FROM embeddings WHERE vec_id IN (0, 1)
"""


def _q_delete_filter(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.operators.mutate import delete_points

    out = delete_points(
        _emb(spark, sf),
        flt={"must": [{"key": "label", "match": {"any": [1, 2, 3]}}]},
        id_col="vec_id",
    )
    return out.agg(F.count("*").alias("count"))


_DELETE_FILTER_SQL = "SELECT count(*) AS count FROM embeddings WHERE NOT (label IN (1, 2, 3))"


def _q_set_payload(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.operators.mutate import set_payload

    out = set_payload(
        _emb(spark, sf), {"label": 100},
        flt={"must": [{"key": "vec_id", "range": {"lt": 10}}]}, id_col="vec_id",
    )
    return out.filter(F.col("vec_id") < 20).select("vec_id", "label")


_SET_PAYLOAD_SQL = """
SELECT vec_id, CAST(CASE WHEN vec_id < 10 THEN 100 ELSE label END AS INTEGER) AS label
FROM embeddings WHERE vec_id < 20
"""


_MMR_SQL = """
WITH RECURSIVE
q AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0),
cand AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) v,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
         (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                CAST(e.embedding AS DOUBLE[]))) *
          sqrt(list_dot_product(q.qv, q.qv))) AS rel
  FROM embeddings e, q
  ORDER BY rel DESC, vec_id LIMIT 30
),
sel AS (
  (SELECT 1 AS rank, vec_id, rel AS score, [vec_id] AS chosen
   FROM cand ORDER BY rel DESC, vec_id LIMIT 1)
  UNION ALL
  (SELECT s.rank + 1, pick.vec_id, pick.rel, list_append(s.chosen, pick.vec_id)
   FROM sel s, LATERAL (
     SELECT c.vec_id, c.rel,
       0.7 * c.rel - 0.3 * (
         SELECT max(list_dot_product(c.v, c2.v) /
                    (sqrt(list_dot_product(c.v, c.v)) *
                     sqrt(list_dot_product(c2.v, c2.v))))
         FROM cand c2 WHERE list_contains(s.chosen, c2.vec_id)
       ) AS mmr
     FROM cand c
     WHERE NOT list_contains(s.chosen, c.vec_id)
     ORDER BY mmr DESC, c.vec_id LIMIT 1
   ) pick
   WHERE s.rank < 10)
)
SELECT vec_id, round(score, 6) AS score, CAST(rank AS BIGINT) AS rank FROM sel
"""


def _q_mmr(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.operators.knn import knn
    from qdrant_spark.operators.mmr import mmr

    q = _vecs(spark, sf, [0])[0]
    cand = knn(
        _emb(spark, sf), q, metric="cosine", k=30, vec_col="embedding",
        id_col="vec_id", select=["vec_id", "score", "embedding"],
    )
    # lambda != 0.5: with the query itself in the candidate set, 0.5 makes
    # every step-2 score exactly 0.5*rel - 0.5*cos(c, v0) = 0 — a
    # mathematical tie that floating-point noise would break differently
    # per engine; 0.7 keeps every step's argmax well-separated
    out = mmr(cand, lambda_=0.7, k=10, metric="cosine",
              id_col="vec_id", vec_col="embedding")
    return _r6(out.select("vec_id", "score", "rank"), "score")


def _q_ann_full_probe(spark: SparkSession, sf: str) -> DataFrame:
    from qdrant_spark.operators.ann import build_ivf, ivf_search

    emb = _emb(spark, sf)
    idx = build_ivf(emb, n_clusters=8, vec_col="embedding", id_col="vec_id")
    q = _vecs(spark, sf, [0])[0]
    # nprobe == n_clusters probes everything -> must equal the exact scan
    out = ivf_search(idx, q, k=10, nprobe=8, metric="cosine")
    return _r6(out, "score")


def _q_ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF probe with nprobe < K — genuinely approximate semantics, yet
    fully value-oracled: centroids are PINNED to the embeddings of
    vec_id 0..7 (the ``ivf_from_centroids`` 100-TB ingest shape — fit
    elsewhere, assign map-only), so the nearest-centroid assignment, the
    2-cluster probe set, and therefore the exact-scored result are all
    deterministic functions the oracle recomputes in SQL. Closes the
    last ``no_oracle`` ANN row (r7 verdict #2)."""
    import numpy as np

    from qdrant_spark.operators.ann import ivf_from_centroids, ivf_search

    emb = _emb(spark, sf)
    seeds = _vecs(spark, sf, list(range(8)))
    cents = np.array([seeds[i] for i in range(8)], dtype=np.float64)
    idx = ivf_from_centroids(emb, cents, vec_col="embedding", id_col="vec_id")
    out = ivf_search(idx, seeds[0], k=10, nprobe=2, metric="cosine")
    return _r6(out, "score")


def _q_knn_auto_filtered(spark: SparkSession, sf: str) -> DataFrame:
    """Selectivity-aware filtered search (the reference's plain-vs-index
    dispatch, query_estimator.rs + dispatch.rs:56-176): the ~20%-selective
    label filter falls below the full-scan threshold, so the dispatcher
    routes to the plain filtered scan — whose result is exactly the
    brute-force filtered top-k the oracle computes."""
    from qdrant_spark.catalog import FieldIndex, field_index_stats
    from qdrant_spark.operators.ann import build_ivf
    from qdrant_spark.operators.dispatch import auto_search, stats_from_index

    emb = _emb(spark, sf)
    idx = build_ivf(emb, n_clusters=8, vec_col="embedding", id_col="vec_id")
    stats = stats_from_index(
        field_index_stats(emb, [FieldIndex("label", "integer")]))
    total = emb.count()
    q = _vecs(spark, sf, [0])[0]
    flt = {"must": [{"key": "label", "match": {"any": [2, 7]}}]}
    out = auto_search(
        idx, q, k=10, nprobe=2, metric="cosine", flt=flt, stats=stats,
        total=total, full_scan_threshold=max(50, total // 2),
    )
    return _r6(out, "score")


def _q_knn_acorn_filtered(spark: SparkSession, sf: str) -> DataFrame:
    """Filtered ANN steered by the per-cluster payload histogram (the
    IVF-native analogue of the reference's filter-aware ACORN traversal,
    types.rs:629-650): the probe selector walks clusters in centroid
    order and probes ONLY clusters that contain matches. At
    nprobe == n_clusters the walk covers the full matching mass, so the
    result is provably the exact filtered top-k — while the scan still
    skips every cluster without a single match."""
    from qdrant_spark.operators.ann import build_ivf
    from qdrant_spark.operators.dispatch import (
        auto_search, build_cluster_field_stats,
    )

    emb = _emb(spark, sf)
    idx = build_ivf(emb, n_clusters=8, vec_col="embedding", id_col="vec_id")
    cstats = build_cluster_field_stats(idx.assigned, ["label"])
    total = emb.count()
    q = _vecs(spark, sf, [0])[0]
    flt = {"must": [{"key": "label", "match": {"any": [3, 8]}}]}
    out = auto_search(
        idx, q, k=10, nprobe=8, metric="cosine", flt=flt,
        cluster_stats=cstats, total=total, full_scan_threshold=1,
        sample=False,
    )
    return _r6(out, "score")


def _q_maxsim_knn(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-scale MaxSim scan (Arrow segment-max scorer) — same query
    construction and oracle as the Column-math maxsim entry."""
    from qdrant_spark.operators.multivec import maxsim_knn

    emb = _emb(spark, sf)
    q = _vecs(spark, sf, [0])[0]
    q_mv = [q[i * 8:(i + 1) * 8] for i in range(8)]
    d_mv = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: F.slice(F.col("embedding").cast("array<double>"), i * 8 + 1, 8),
    )
    pts = emb.select("vec_id", d_mv.alias("mv"))
    out = maxsim_knn(pts, q_mv, k=10, metric="dot", mv_col="mv", id_col="vec_id")
    return _r6(out.select("vec_id", "score"), "score")


def _q_maxsim_knn_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """Pruned MaxSim through the token-level IVF (r10): query tokens
    probe token-space centroids, candidate docs semi-join into the exact
    Arrow MaxSim scan — the coarse stage the reference gets from building
    HNSW over multivector storage (multivector_hnsw_test.rs). Full probe
    (nprobe == n_clusters) makes every doc a candidate, so the result
    equals the exact scan and shares its oracle."""
    from qdrant_spark.operators.multivec import (
        build_maxsim_ivf, maxsim_knn_ivf,
    )

    emb = _emb(spark, sf)
    q = _vecs(spark, sf, [0])[0]
    q_mv = [q[i * 8:(i + 1) * 8] for i in range(8)]
    d_mv = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: F.slice(F.col("embedding").cast("array<double>"), i * 8 + 1, 8),
    )
    pts = emb.select("vec_id", d_mv.alias("mv"))
    idx = build_maxsim_ivf(pts, n_clusters=8, mv_col="mv", id_col="vec_id")
    out = maxsim_knn_ivf(idx, q_mv, k=10, nprobe=8, metric="dot")
    return _r6(out.select("vec_id", "score"), "score")


def _q_maxsim_invlist(spark: SparkSession, sf: str) -> DataFrame:
    """Pruned MaxSim over the INVLIST layout (r13,
    persist_maxsim_ivf_points): the full multivector rows stored once
    per distinct (doc, token cluster) and partitioned by cluster, so the
    probe prunes the float-token SCAN at the file level — the
    ColBERTv2/PLAID posting layout the reference's multivector HNSW
    serves from memory (multivector_hnsw_test.rs). A doc probed through
    several clusters scores identically on each stored copy and dedups
    on the narrow (id, score) frame. Full probe makes every doc a
    candidate, so the result equals the exact scan and shares its
    oracle; the dedup contract is what's under test (duplicated storage
    must not duplicate results)."""
    import tempfile

    from qdrant_spark.operators.multivec import (
        build_maxsim_ivf, maxsim_knn_ivf, persist_maxsim_ivf,
        persist_maxsim_ivf_points,
    )

    emb = _emb(spark, sf)
    q = _vecs(spark, sf, [0])[0]
    q_mv = [q[i * 8:(i + 1) * 8] for i in range(8)]
    d_mv = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: F.slice(F.col("embedding").cast("array<double>"), i * 8 + 1, 8),
    )
    pts = emb.select("vec_id", d_mv.alias("mv"))
    root = tempfile.mkdtemp(prefix="entry_msinv_")
    idx = persist_maxsim_ivf(
        build_maxsim_ivf(pts, n_clusters=8, mv_col="mv", id_col="vec_id"),
        f"{root}/tokens")
    inv = persist_maxsim_ivf_points(idx, f"{root}/points")
    out = maxsim_knn_ivf(inv, q_mv, k=10, nprobe=8, metric="dot")
    return _r6(out.select("vec_id", "score"), "score")


def _q_maxsim_codes_invlist(spark: SparkSession, sf: str) -> DataFrame:
    """COMPOSED pruned+quantized MaxSim over the CODES invlist (r14,
    persist_maxsim_quant_codes): the quantized token codes stored once
    per distinct (doc, token cluster) and partitioned by cluster, so the
    composed coarse stage reads ONLY the probed clusters' code FILES —
    no flat-codes semi-join, no separate token-table membership scan
    (the r13 decode-dominance fix applied to the narrow side of the
    ladder; same ColBERTv2/PLAID posting lineage as the float invlist).
    Duplicated code copies score identically and dedup inside the coarse
    kernel. Full probe + ample oversampling + exact rescore makes the
    answer equal the exact MaxSim scan, which the oracle recomputes; the
    dedup contract is what's under test."""
    import tempfile

    from qdrant_spark.operators.multivec import (
        build_maxsim_ivf, build_maxsim_sq, maxsim_knn_quant_ivf,
        persist_maxsim_ivf, persist_maxsim_quant_codes,
    )

    emb = _emb(spark, sf)
    q = _vecs(spark, sf, [0])[0]
    q_mv = [q[i * 8:(i + 1) * 8] for i in range(8)]
    d_mv = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: F.slice(F.col("embedding").cast("array<double>"), i * 8 + 1, 8),
    )
    pts = emb.select("vec_id", d_mv.alias("mv"))
    root = tempfile.mkdtemp(prefix="entry_mscodes_")
    idx = persist_maxsim_ivf(
        build_maxsim_ivf(pts, n_clusters=8, mv_col="mv", id_col="vec_id"),
        f"{root}/tokens")
    qidx = build_maxsim_sq(pts, mv_col="mv", id_col="vec_id")
    inv = persist_maxsim_quant_codes(idx, qidx, f"{root}/codes")
    out = maxsim_knn_quant_ivf(inv, qidx, q_mv, k=10, nprobe=8,
                               metric="dot", oversampling=8.0)
    return _r6(out.select("vec_id", "score"), "score")


def _q_maxsim_invlist_loaded(spark: SparkSession, sf: str) -> DataFrame:
    """The invlist through the FULL persist/load lifecycle (r14 — the
    r13 layout evaporated on reload/ensure because only direct
    persist_maxsim_ivf_points callers got it): a collection DECLARES
    clustered_points in its vector index params, the first client
    builds create→ensure→query; a second client over the same root
    REOPENS the persisted points snapshot (no re-upsert — r14: the
    client reattaches the committed parquet on create, the reference's
    collection-open-from-disk posture) and its ensure LOADS the invlist
    from the matching meta with no corpus pass, keeping the
    partition-pruned route. Full probe + threshold 0 equals the exact
    MaxSim scan over the 500-row slice (oracle recomputes)."""
    import tempfile

    from qdrant_spark.client import QdrantSparkClient

    rows = _emb_rows500(spark, sf)
    dim = len(rows[0]["embedding"])
    td = dim // 8
    root = tempfile.mkdtemp(prefix="entry_msinvload_")
    cfg = {"late": {"size": td, "distance": "Dot",
                    "multivector_config": {"comparator": "max_sim"},
                    "index": {"n_clusters": 8, "nprobe": 8,
                              "full_scan_threshold": 0,
                              "clustered_points": True}}}
    pts = [{"id": int(r["vec_id"]),
            "vector": {"late": [[float(x) for x in
                                 r["embedding"][i * td:(i + 1) * td]]
                                for i in range(8)]}} for r in rows]

    c1 = QdrantSparkClient(spark, root=root)
    c1.create_collection("entry_msinv_loaded", vectors_config=cfg)
    c1.upsert("entry_msinv_loaded", pts)
    assert c1.ensure_vector_index("entry_msinv_loaded", using="late",
                                  indexing_threshold=0) == "built"

    c2 = QdrantSparkClient(spark, root=root)  # "restarted session"
    c2.create_collection("entry_msinv_loaded", vectors_config=cfg)
    # no re-upsert: create reopened the persisted snapshot
    assert c2.count("entry_msinv_loaded").count == len(pts)
    assert c2.ensure_vector_index("entry_msinv_loaded", using="late",
                                  indexing_threshold=0) == "loaded"
    route = c2._coll("entry_msinv_loaded").mv_idx["late"]
    assert route.index.clustered_points is not None  # layout survived
    q = [[float(x) for x in rows[0]["embedding"][i * td:(i + 1) * td]]
         for i in range(8)]
    res = c2.query_points("entry_msinv_loaded", query=q, using="late",
                          limit=10, with_payload=False)
    return local_df(spark, 
        [(p.id, round(p.score, 6)) for p in res.points],
        "vec_id long, score double")


_MAXSIM_500_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
           WHERE vec_id < 500),
q AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT e.vec_id, qi.i AS qi,
         max(list_dot_product(q.qv[qi.i * 8 + 1 : qi.i * 8 + 8],
                              e.v[di.i * 8 + 1 : di.i * 8 + 8])) AS m
  FROM e, q, generate_series(0, 7) qi(i), generate_series(0, 7) di(i)
  GROUP BY e.vec_id, qi.i),
t AS (SELECT vec_id, sum(m) AS score FROM s GROUP BY vec_id)
SELECT vec_id, round(t.score, 6) AS score FROM t ORDER BY t.score DESC, vec_id LIMIT 10
"""


def _q_quant_ivf_loaded(spark: SparkSession, sf: str) -> DataFrame:
    """Composed quantization x IVF through the PERSIST/LOAD lifecycle
    (r14 — r13 VERDICT #2: load_quant_ivf_index silently dropped the
    cluster-partitioned float layout, so every reloaded composed index
    re-paid the full-table decode): the first client builds (the ensure
    now persists the IVF's floats partitioned by cluster next to the
    codes), a second client over the same root REOPENS the persisted
    points snapshot (no re-upsert — the client reattaches the committed
    parquet on create, r14) and LOADS from the matching meta, and the
    restored handle carries clustered_full, so the
    exact rescore reads only the probed clusters' FILES. Full probe +
    ample oversampling equals the exact cosine scan over the 500-row
    slice (oracle recomputes); the partial-probe plan assert lives in
    tests/test_quant_ivf.py."""
    import tempfile

    from qdrant_spark.client import QdrantSparkClient

    rows = _emb_rows500(spark, sf)
    dim = len(rows[0]["embedding"])
    root = tempfile.mkdtemp(prefix="entry_qivfload_")
    pts = [{"id": int(r["vec_id"]),
            "vector": [float(x) for x in r["embedding"]]} for r in rows]

    def mk(ingest: bool):
        c = QdrantSparkClient(spark, root=root)
        c.create_collection(
            "entry_qivf_loaded",
            vectors_config={"size": dim, "distance": "Cosine"},
            quantization_config={"scalar": {"type": "int8",
                                            "full_scan_threshold": 0}})
        if ingest:
            c.upsert("entry_qivf_loaded", pts)
        return c

    c1 = mk(ingest=True)
    assert c1.ensure_vector_index("entry_qivf_loaded", n_clusters=8,
                                  nprobe=8,
                                  indexing_threshold=0) == "built"
    c2 = mk(ingest=False)  # "restart": create reopens the snapshot
    assert c2.count("entry_qivf_loaded").count == len(pts)
    assert c2.ensure_vector_index("entry_qivf_loaded", n_clusters=8,
                                  nprobe=8,
                                  indexing_threshold=0) == "loaded"
    qih = c2._coll("entry_qivf_loaded").quant_ivf[""]
    assert qih.clustered_full is not None  # the layout survived reload
    q = [float(x) for x in rows[7]["embedding"]]
    res = c2.query_points(
        "entry_qivf_loaded", query=q, limit=10, with_payload=False,
        search_params={"quantization": {"rescore": True,
                                        "oversampling": 8.0}})
    return local_df(spark, 
        [(p.id, round(p.score, 6)) for p in res.points],
        "vec_id long, score double")


_QUANT_IVF_LOADED_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 7),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
      WHERE vec_id < 500)
SELECT e.vec_id,
       round(list_dot_product(e.v, q.qv) /
             (sqrt(list_dot_product(e.v, e.v)) *
              sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
FROM e, q ORDER BY score DESC, vec_id LIMIT 10
"""


def _q_quantized_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Batched quantized search through the client (r10): >=2 unfiltered
    dense requests on the scalar-quantized default vector are answered
    by ONE coarse int8 scan + ONE pair rescore (_batch_quant_indexed —
    the quantized twin of the batched sparse index scan). Rescore is
    exact and oversampling ample, so each request's rows equal its exact
    cosine top-k over the 500-row slice."""
    from qdrant_spark.client import QdrantSparkClient

    rows = _emb_rows500(spark, sf)
    dim = len(rows[0]["embedding"])
    c = QdrantSparkClient(spark)
    c.create_collection(
        "entry_quant_batch",
        vectors_config={"size": dim, "distance": "Cosine"},
        quantization_config={"scalar": {"type": "int8",
                                        "full_scan_threshold": 0}})
    c.upsert("entry_quant_batch", [
        {"id": int(r["vec_id"]),
         "vector": [float(x) for x in r["embedding"]]}
        for r in rows])
    assert c.ensure_vector_index("entry_quant_batch",
                                 indexing_threshold=0) == "built"
    qs = [[float(x) for x in rows[i]["embedding"]] for i in (0, 3, 9)]
    res = c.query_batch_points("entry_quant_batch", [
        {"query": q, "limit": 10, "with_payload": False,
         "params": {"quantization": {"oversampling": 8.0}}}
        for q in qs])
    out = [(qi, p.id, round(p.score, 6))
           for qi, r in enumerate(res) for p in r.points]
    return local_df(spark, 
        out, "qid long, vec_id long, score double")


def _q_quantized_batch_kinds(spark: SparkSession, sf: str) -> DataFrame:
    """Batched quantized search covers ALL FOUR kinds (r11; the
    reference batches every quantized kind through one storage walk,
    lib/segment/src/vector_storage/quantized/): four named vectors on
    one collection — scalar / product / binary / turbo — each carrying
    its own quantization_config; two requests per vector fuse into one
    coarse scan per kind (binary's shared scan unpacks words to ±1 so
    the dot reproduces the XOR/hamming order; turbo's rebuilds the
    renormed rotated reconstruction). Oversampling spans enough of the
    500-row slice that every request's exact top-10 survives its coarse
    cut, so all eight results equal the exact cosine top-10 the oracle
    recomputes per query."""
    from qdrant_spark.client import QdrantSparkClient

    rows = _emb_rows500(spark, sf)
    dim = len(rows[0]["embedding"])
    kinds = [("s", {"scalar": {"type": "int8",
                               "full_scan_threshold": 0}}, 8.0),
             ("p", {"product": {"compression": "x8",
                                "full_scan_threshold": 0}}, 8.0),
             ("b", {"binary": {"encoding": "two_bits",
                               "full_scan_threshold": 0}}, 50.0),
             ("t", {"turbo": {"bits": "bits4",
                              "full_scan_threshold": 0}}, 50.0)]
    c = QdrantSparkClient(spark)
    c.create_collection(
        "entry_quant_kinds",
        vectors_config={n: {"size": dim, "distance": "Cosine",
                            "quantization_config": cfg}
                        for n, cfg, _ in kinds})
    c.upsert("entry_quant_kinds", [
        {"id": int(r["vec_id"]),
         "vector": {n: [float(x) for x in r["embedding"]]
                    for n, _, _ in kinds}}
        for r in rows])
    for n, _, _ in kinds:
        assert c.ensure_vector_index("entry_quant_kinds", using=n,
                                     indexing_threshold=0) == "built"
    srcs = [0, 3, 5, 9, 11, 2, 7, 4]  # 2 per kind, see oracle VALUES
    reqs = []
    for ki, (n, _, over) in enumerate(kinds):
        for s in srcs[ki * 2: ki * 2 + 2]:
            reqs.append({"query": [float(x) for x in
                                   rows[s]["embedding"]],
                         "using": n, "limit": 10, "with_payload": False,
                         "params": {"quantization":
                                    {"oversampling": over}}})
    res = c.query_batch_points("entry_quant_kinds", reqs)
    out = [(qi, p.id, round(p.score, 6))
           for qi, r in enumerate(res) for p in r.points]
    return local_df(spark, 
        out, "qid long, vec_id long, score double")


_QUANT_BATCH_KINDS_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
           WHERE vec_id < 500),
qs AS (SELECT * FROM (VALUES (0, 0), (1, 3), (2, 5), (3, 9), (4, 11),
                             (5, 2), (6, 7), (7, 4)) AS t(qid, src)),
q AS (SELECT qs.qid, e.v AS qv FROM qs JOIN e ON e.vec_id = qs.src),
s AS (SELECT q.qid, e.vec_id,
             list_dot_product(e.v, q.qv) /
             (sqrt(list_dot_product(e.v, e.v)) *
              sqrt(list_dot_product(q.qv, q.qv))) AS score,
             row_number() OVER (PARTITION BY q.qid
                                ORDER BY list_dot_product(e.v, q.qv) /
                                (sqrt(list_dot_product(e.v, e.v)) *
                                 sqrt(list_dot_product(q.qv, q.qv))) DESC,
                                e.vec_id) AS rn
      FROM e, q)
SELECT qid, vec_id, round(score, 6) AS score FROM s WHERE rn <= 10
ORDER BY qid, rn
"""


_QUANT_BATCH_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
           WHERE vec_id < 500),
qs AS (SELECT * FROM (VALUES (0, 0), (1, 3), (2, 9)) AS t(qid, src)),
q AS (SELECT qs.qid, e.v AS qv FROM qs JOIN e ON e.vec_id = qs.src),
s AS (SELECT q.qid, e.vec_id,
             list_dot_product(e.v, q.qv) /
             (sqrt(list_dot_product(e.v, e.v)) *
              sqrt(list_dot_product(q.qv, q.qv))) AS score,
             row_number() OVER (PARTITION BY q.qid
                                ORDER BY list_dot_product(e.v, q.qv) /
                                (sqrt(list_dot_product(e.v, e.v)) *
                                 sqrt(list_dot_product(q.qv, q.qv))) DESC,
                                e.vec_id) AS rn
      FROM e, q)
SELECT qid, vec_id, round(score, 6) AS score FROM s WHERE rn <= 10
"""


def _q_maxsim_sq_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Batched quantized-MULTIVECTOR search through the client (late
    r11): >=2 unfiltered MaxSim requests on a scalar-quantized
    multivector fuse into ONE coarse token scan (all query multivectors
    in one matrix) + ONE pair-scored exact rescore
    (_batch_maxsim_quant). Rescore is exact and oversampling ample, so
    each request's rows equal its exact MaxSim top-10 over the 500-row
    slice — the oracle recomputes that per query in SQL."""
    from qdrant_spark.client import QdrantSparkClient

    rows = _emb_rows500(spark, sf)
    dim = len(rows[0]["embedding"])
    td = dim // 8
    c = QdrantSparkClient(spark)
    c.create_collection(
        "entry_msq_batch", vectors_config={
            "late": {"size": td, "distance": "Dot",
                     "multivector_config": {"comparator": "max_sim"},
                     "quantization_config": {"scalar":
                                             {"full_scan_threshold": 0}}}})
    c.upsert("entry_msq_batch", [
        {"id": int(r["vec_id"]),
         "vector": {"late": [[float(x) for x in
                              r["embedding"][i * td:(i + 1) * td]]
                             for i in range(8)]}} for r in rows])
    assert c.ensure_vector_index("entry_msq_batch", using="late",
                                 indexing_threshold=0) == "built"
    qs = [[[float(x) for x in rows[i]["embedding"][t * td:(t + 1) * td]]
           for t in range(8)] for i in (0, 3, 9)]
    res = c.query_batch_points("entry_msq_batch", [
        {"query": {"nearest": q}, "using": "late", "limit": 10,
         "with_payload": False,
         "params": {"quantization": {"oversampling": 50.0}}}
        for q in qs])
    out = [(qi, p.id, round(p.score, 6))
           for qi, r in enumerate(res) for p in r.points]
    return local_df(spark, 
        out, "qid long, vec_id long, score double")


_MAXSIM_BATCH_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
           WHERE vec_id < 500),
qs AS (SELECT * FROM (VALUES (0, 0), (1, 3), (2, 9)) AS t(qid, src)),
q AS (SELECT qs.qid, e.v AS qv FROM qs JOIN e ON e.vec_id = qs.src),
m AS (
  SELECT q.qid, e.vec_id, qi.i AS qi,
         max(list_dot_product(q.qv[qi.i * 8 + 1 : qi.i * 8 + 8],
                              e.v[di.i * 8 + 1 : di.i * 8 + 8])) AS mx
  FROM e, q, generate_series(0, 7) qi(i), generate_series(0, 7) di(i)
  GROUP BY q.qid, e.vec_id, qi.i),
t AS (SELECT qid, vec_id, sum(mx) AS score FROM m GROUP BY qid, vec_id),
r AS (SELECT qid, vec_id, score,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score DESC, vec_id) AS rn
      FROM t)
SELECT qid, vec_id, round(score, 6) AS score FROM r WHERE rn <= 10
"""


def _q_maxsim_batch_kinds(spark: SparkSession, sf: str) -> DataFrame:
    """Batched quantized-multivector search covers the PQ and TQ token
    kinds too (r12; the multivector sibling of quantized_batch_kinds —
    the reference batches every quantized kind through one storage
    walk, lib/segment/src/vector_storage/quantized/): two named
    multivectors on one collection, one product- and one
    turbo-quantized, two requests each — the planner fuses each
    column's pair into ONE coarse token scan + ONE pair rescore.
    Rescore is exact and oversampling corpus-wide, so all four results
    equal the exact MaxSim top-10 the oracle recomputes per query."""
    from qdrant_spark.client import QdrantSparkClient

    rows = _emb_rows500(spark, sf)
    dim = len(rows[0]["embedding"])
    td = dim // 8
    kinds = [("p", {"product": {"compression": "x8",
                                "full_scan_threshold": 0}}),
             ("t", {"turbo": {"bits": "bits4",
                              "full_scan_threshold": 0}})]
    c = QdrantSparkClient(spark)
    c.create_collection("entry_mv_kinds", vectors_config={
        n: {"size": td, "distance": "Dot",
            "multivector_config": {"comparator": "max_sim"},
            "quantization_config": cfg} for n, cfg in kinds})
    c.upsert("entry_mv_kinds", [
        {"id": int(r["vec_id"]),
         "vector": {n: [[float(x) for x in
                         r["embedding"][i * td:(i + 1) * td]]
                        for i in range(8)] for n, _ in kinds}}
        for r in rows])
    for n, _ in kinds:
        assert c.ensure_vector_index("entry_mv_kinds", using=n,
                                     indexing_threshold=0) == "built"
    srcs = [0, 3, 5, 9]  # 2 per kind, see oracle VALUES
    reqs = []
    for ki, (n, _) in enumerate(kinds):
        for s in srcs[ki * 2: ki * 2 + 2]:
            q = [[float(x) for x in rows[s]["embedding"][t * td:(t + 1) * td]]
                 for t in range(8)]
            reqs.append({"query": {"nearest": q}, "using": n,
                         "limit": 10, "with_payload": False,
                         "params": {"quantization":
                                    {"oversampling": 50.0}}})
    res = c.query_batch_points("entry_mv_kinds", reqs)
    out = [(qi, p.id, round(p.score, 6))
           for qi, r in enumerate(res) for p in r.points]
    return local_df(spark, 
        out, "qid long, vec_id long, score double")


_MAXSIM_BATCH_KINDS_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
           WHERE vec_id < 500),
qs AS (SELECT * FROM (VALUES (0, 0), (1, 3), (2, 5), (3, 9)) AS t(qid, src)),
q AS (SELECT qs.qid, e.v AS qv FROM qs JOIN e ON e.vec_id = qs.src),
m AS (
  SELECT q.qid, e.vec_id, qi.i AS qi,
         max(list_dot_product(q.qv[qi.i * 8 + 1 : qi.i * 8 + 8],
                              e.v[di.i * 8 + 1 : di.i * 8 + 8])) AS mx
  FROM e, q, generate_series(0, 7) qi(i), generate_series(0, 7) di(i)
  GROUP BY q.qid, e.vec_id, qi.i),
t AS (SELECT qid, vec_id, sum(mx) AS score FROM m GROUP BY qid, vec_id),
r AS (SELECT qid, vec_id, score,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score DESC, vec_id) AS rn
      FROM t)
SELECT qid, vec_id, round(score, 6) AS score FROM r WHERE rn <= 10
"""


def _q_maxsim_sq(spark: SparkSession, sf: str) -> DataFrame:
    """Quantized multivector storage (r11): the coarse MaxSim scan reads
    int8 token codes (1 B/dim; shared per-dimension clip bounds fitted
    on a token sample) and only the oversampled candidate docs touch the
    full-precision tokens — the reference quantizes multivector segments
    with the same QuantizationConfig machinery as dense ones
    (quantized_vectors.rs is vector-kind-agnostic; its HNSW reads codes
    and rescores originals). Ample oversampling makes the rescored
    result equal the exact MaxSim scan, sharing its oracle."""
    from qdrant_spark.operators.multivec import (
        build_maxsim_sq, maxsim_knn_sq,
    )

    emb = _emb(spark, sf)
    q = _vecs(spark, sf, [0])[0]
    q_mv = [q[i * 8:(i + 1) * 8] for i in range(8)]
    d_mv = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: F.slice(F.col("embedding").cast("array<double>"), i * 8 + 1, 8),
    )
    pts = emb.select("vec_id", d_mv.alias("mv"))
    idx = build_maxsim_sq(pts, mv_col="mv", id_col="vec_id")
    out = maxsim_knn_sq(idx, q_mv, k=10, oversampling=8.0, metric="dot")
    return _r6(out.select("vec_id", "score"), "score")


def _q_maxsim_bq(spark: SparkSession, sf: str) -> DataFrame:
    """Binary-quantized multivector storage (late r11): the coarse
    MaxSim scan reads 1-BIT packed token words (32x fewer bytes than
    float tokens, 8x fewer than the int8 codes) — each token bit-encoded
    against shared per-dimension token statistics, per-token-pair score
    = ext_dim - 2*hamming via one BLAS call over the unpacked ±1
    matrices (quantized_vectors.rs applies BinaryQuantization to
    multivector segments like any other kind). Corpus-wide oversampling
    makes the rescored result equal the exact MaxSim scan, sharing its
    oracle."""
    from qdrant_spark.operators.multivec import (
        build_maxsim_bq, maxsim_knn_bq,
    )

    emb = _emb(spark, sf)
    q = _vecs(spark, sf, [0])[0]
    q_mv = [q[i * 8:(i + 1) * 8] for i in range(8)]
    d_mv = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: F.slice(F.col("embedding").cast("array<double>"), i * 8 + 1, 8),
    )
    pts = emb.select("vec_id", d_mv.alias("mv"))
    idx = build_maxsim_bq(pts, mv_col="mv", id_col="vec_id")
    n = pts.count()
    out = maxsim_knn_bq(idx, q_mv, k=10, oversampling=n / 10.0,
                        metric="dot")
    return _r6(out.select("vec_id", "score"), "score")


def _q_maxsim_bq_asym(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric binary quantization on MULTIVECTOR token storage (r12;
    BinaryQuantizationQueryEncoding::Scalar8Bits, types.rs:1188-1201,
    composed with the multivector token codes — quantized_vectors.rs is
    vector-kind-agnostic): storage stays 1 bit/dim, each QUERY TOKEN
    keeps 8-bit scalar precision, and the coarse per-token-pair quantity
    is ext_dim - 2*xor/255 with xor = sum_d (code_d if bit=0 else
    255-code_d). rescore=False returns the coarse MaxSim directly
    (per-query-token max over doc tokens, summed), so the oracle replays
    the WHOLE quantity in SQL over a 500-doc slice: per-dimension token
    means, the storage bits, the per-token uniform scalar codes, the
    xor, the max and the sum."""
    from qdrant_spark.operators.multivec import (
        build_maxsim_bq, maxsim_knn_quant,
    )

    emb = _emb(spark, sf)
    rows = emb.orderBy("vec_id").limit(500)
    q = _vecs(spark, sf, [0])[0]
    q_mv = [q[i * 8:(i + 1) * 8] for i in range(8)]
    d_mv = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: F.slice(F.col("embedding").cast("array<double>"), i * 8 + 1, 8),
    )
    pts = rows.select("vec_id", d_mv.alias("mv"))
    idx = build_maxsim_bq(pts, mv_col="mv", id_col="vec_id",
                          query_encoding="scalar8bits")
    out = maxsim_knn_quant(idx, q_mv, k=10, oversampling=1.0,
                           metric="dot", rescore=False)
    return _r6(out.select("vec_id", "score"), "score")


_MAXSIM_BQ_ASYM_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
           WHERE vec_id < 500),
q0 AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0),
m AS (SELECT d.i AS d, AVG(e.v[ti.i * 8 + d.i]) AS mean
      FROM e, generate_series(0, 7) ti(i), generate_series(1, 8) d(i)
      GROUP BY d.i),
qc AS (  -- per query token: 8-bit uniform scalar codes over [-mab, mab]
  SELECT qi.i AS qi, d.i AS d,
         CAST(floor((q0.qv[qi.i * 8 + d.i] + t.mab)
                    / (2.0 * t.mab / 255.0) + 0.5) AS BIGINT) % 256 AS code
  FROM q0, generate_series(0, 7) qi(i), generate_series(1, 8) d(i),
       LATERAL (SELECT max(abs(q0.qv[qi.i * 8 + dd.i]))
                FROM generate_series(1, 8) dd(i)) t(mab)),
x AS (  -- xor per (doc, query token, doc token)
  SELECT e.vec_id, qc.qi, ti.i AS ti,
         sum(CASE WHEN e.v[ti.i * 8 + qc.d] > m.mean
             THEN 255 - qc.code ELSE qc.code END) / 255.0 AS xr
  FROM e, generate_series(0, 7) ti(i), qc
  JOIN m ON m.d = qc.d
  GROUP BY e.vec_id, qc.qi, ti.i),
p AS (SELECT vec_id, qi, max(8.0 - 2.0 * xr) AS mx
      FROM x GROUP BY vec_id, qi),
s AS (SELECT vec_id, sum(mx) AS score FROM p GROUP BY vec_id)
SELECT vec_id, round(score, 6) AS score FROM s
ORDER BY score DESC, vec_id LIMIT 10
"""


def _q_maxsim_pq(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantized multivector storage (r12 — the third kind of
    the vector-kind-agnostic quantized_vectors.rs posture): each token
    splits into M subspaces encoded as one u8 codebook index each, the
    coarse MaxSim scan reconstructs x_hat by codebook gather (the dense
    batch-ADC decomposition, encoded_vectors_pq.rs) and reads M bytes
    per token. Corpus-wide oversampling keeps every doc through the
    coarse cut, so the exact rescore equals the exact MaxSim scan and
    shares its oracle."""
    from qdrant_spark.operators.multivec import (
        build_maxsim_pq, maxsim_knn_pq,
    )

    emb = _emb(spark, sf)
    q = _vecs(spark, sf, [0])[0]
    q_mv = [q[i * 8:(i + 1) * 8] for i in range(8)]
    d_mv = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: F.slice(F.col("embedding").cast("array<double>"), i * 8 + 1, 8),
    )
    pts = emb.select("vec_id", d_mv.alias("mv"))
    idx = build_maxsim_pq(pts, mv_col="mv", id_col="vec_id",
                          n_subspaces=4, sample_tokens=20_000)
    n = pts.count()
    out = maxsim_knn_pq(idx, q_mv, k=10, oversampling=n / 10.0,
                        metric="dot")
    return _r6(out.select("vec_id", "score"), "score")


def _q_maxsim_tq(spark: SparkSession, sf: str) -> DataFrame:
    """TurboQuant multivector storage (r12 — the fourth kind): each
    token rotated with the seeded orthonormal rotation, Lloyd-Max-coded
    at 4 bits/coordinate and renorm-reconstructed in rotated space for
    the coarse scan (turboquant/{lloyd_max,quantization}.rs; rotation
    preserves dot products so the query tokens rotate once driver-side).
    Corpus-wide oversampling keeps every doc through the coarse cut, so
    the exact rescore equals the exact MaxSim scan and shares its
    oracle."""
    from qdrant_spark.operators.multivec import (
        build_maxsim_tq, maxsim_knn_tq,
    )

    emb = _emb(spark, sf)
    q = _vecs(spark, sf, [0])[0]
    q_mv = [q[i * 8:(i + 1) * 8] for i in range(8)]
    d_mv = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: F.slice(F.col("embedding").cast("array<double>"), i * 8 + 1, 8),
    )
    pts = emb.select("vec_id", d_mv.alias("mv"))
    idx = build_maxsim_tq(pts, mv_col="mv", id_col="vec_id", bits=4)
    n = pts.count()
    out = maxsim_knn_tq(idx, q_mv, k=10, oversampling=n / 10.0,
                        metric="dot")
    return _r6(out.select("vec_id", "score"), "score")


def _q_maxsim_sq_planned(spark: SparkSession, sf: str) -> DataFrame:
    """Multivector quantization through the full client stack (r11):
    quantization_config declared ON the multivector (the reference's
    quantized_vectors.rs handles every vector kind with the same config)
    + ensure_vector_index builds the int8 token storage, and
    query_points runs the coarse-over-codes + exact-rescore MaxSim plan.
    Ample oversampling makes the answer equal the exact MaxSim scan over
    the 500-row slice (same oracle as maxsim_planned)."""
    from qdrant_spark.client import QdrantSparkClient

    rows = _emb_rows500(spark, sf)
    dim = len(rows[0]["embedding"])
    td = dim // 8
    c = QdrantSparkClient(spark)
    # full_scan_threshold 0 pins the quantized route: the 500-row slice
    # sits far below the exact-vs-quantized crossover the planner
    # otherwise applies (multivec.MAXSIM_FULL_SCAN_THRESHOLD)
    c.create_collection("entry_mv_sq", vectors_config={
        "late": {"size": td, "distance": "Dot",
                 "multivector_config": {"comparator": "max_sim"},
                 "quantization_config": {"scalar":
                                         {"quantile": 0.99,
                                          "full_scan_threshold": 0}}}})
    c.upsert("entry_mv_sq", [
        {"id": int(r["vec_id"]),
         "vector": {"late": [
             [float(x) for x in r["embedding"][i * td:(i + 1) * td]]
             for i in range(8)]}}
        for r in rows])
    assert c.ensure_vector_index(
        "entry_mv_sq", using="late", indexing_threshold=0) == "built"
    q = [[float(x) for x in rows[0]["embedding"][i * td:(i + 1) * td]]
         for i in range(8)]
    res = c.query_points(
        "entry_mv_sq", query=q, using="late", limit=10,
        with_payload=False,
        search_params={"quantization": {"oversampling": 10.0}})
    return local_df(spark, 
        [(p.id, round(p.score, 6)) for p in res.points],
        "vec_id long, score double")


def _q_maxsim_sq_ivf_planned(spark: SparkSession, sf: str) -> DataFrame:
    """COMPOSED multivector quantization x token-IVF through the full
    client stack (r12 — the multivector twin of quantized_ivf_planned,
    and the full ColBERTv2/PLAID ladder): quantization_config declared
    ON the multivector + ensure_vector_index(n_clusters=...) builds BOTH
    the cluster-partitioned id-only token table and the int8 token
    codes, and query_points routes probe-clusters ->
    coarse-over-candidate-CODES -> exact-rescore (the reference's
    HNSW-over-quantized-multivector posture, hnsw.rs quantized scorer +
    quantized_vectors.rs). Full probe + ample oversampling makes the
    answer equal the exact MaxSim scan, which the oracle recomputes."""
    from qdrant_spark.client import QdrantSparkClient

    rows = _emb_rows500(spark, sf)
    dim = len(rows[0]["embedding"])
    td = dim // 8
    c = QdrantSparkClient(spark)
    c.create_collection("entry_mv_sq_ivf", vectors_config={
        "late": {"size": td, "distance": "Dot",
                 "multivector_config": {"comparator": "max_sim",
                                        "full_scan_threshold": 0},
                 "quantization_config": {"scalar":
                                         {"quantile": 0.99,
                                          "full_scan_threshold": 0}}}})
    c.upsert("entry_mv_sq_ivf", [
        {"id": int(r["vec_id"]),
         "vector": {"late": [
             [float(x) for x in r["embedding"][i * td:(i + 1) * td]]
             for i in range(8)]}}
        for r in rows])
    assert c.ensure_vector_index(
        "entry_mv_sq_ivf", using="late", n_clusters=8, nprobe=8,
        indexing_threshold=0) == "built"
    assert "late" in c._coll("entry_mv_sq_ivf").mv_sq
    assert "late" in c._coll("entry_mv_sq_ivf").mv_idx  # composed
    q = [[float(x) for x in rows[0]["embedding"][i * td:(i + 1) * td]]
         for i in range(8)]
    res = c.query_points(
        "entry_mv_sq_ivf", query=q, using="late", limit=10,
        with_payload=False,
        search_params={"quantization": {"oversampling": 10.0}})
    return local_df(spark, 
        [(p.id, round(p.score, 6)) for p in res.points],
        "vec_id long, score double")


def _q_maxsim_sq_filtered(spark: SparkSession, sf: str) -> DataFrame:
    """Filtered quantized-multivector search (r12): the payload filter
    evaluates on the full-precision frame and reaches the narrow token-
    code scan as an id semi-join (the dense quantize._coarse_src posture
    — the reference wraps quantized scorers in the same filtered-scorer
    machinery). Corpus-wide oversampling + exact rescore make the answer
    equal the exact FILTERED MaxSim scan, which the oracle recomputes
    with the same label predicate."""
    from dataclasses import replace

    from qdrant_spark.operators.multivec import (
        build_maxsim_sq, maxsim_knn_quant,
    )

    emb = _emb(spark, sf)
    q = _vecs(spark, sf, [0])[0]
    q_mv = [q[i * 8:(i + 1) * 8] for i in range(8)]
    d_mv = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: F.slice(F.col("embedding").cast("array<double>"), i * 8 + 1, 8),
    )
    pts = emb.select("vec_id", "label", d_mv.alias("mv"))
    idx = replace(build_maxsim_sq(pts, mv_col="mv", id_col="vec_id"),
                  full_scan_threshold=0)
    n = pts.count()
    out = maxsim_knn_quant(
        idx, q_mv, k=10, oversampling=n / 10.0, metric="dot",
        flt={"must": [{"key": "label", "range": {"lte": 4}}]})
    return _r6(out.select("vec_id", "score"), "score")


_MAXSIM_FILTERED_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
           WHERE label <= 4),
{_Q_CTE.strip()},
s AS (
  SELECT e.vec_id, qi.i AS qi,
         max(list_dot_product(q.qv[qi.i * 8 + 1 : qi.i * 8 + 8],
                              e.v[di.i * 8 + 1 : di.i * 8 + 8])) AS m
  FROM e, q, generate_series(0, 7) qi(i), generate_series(0, 7) di(i)
  GROUP BY e.vec_id, qi.i),
t AS (SELECT vec_id, sum(m) AS score FROM s GROUP BY vec_id)
SELECT vec_id, round(t.score, 6) AS score FROM t
ORDER BY t.score DESC, vec_id LIMIT 10
"""


def _q_maxsim_planned(spark: SparkSession, sf: str) -> DataFrame:
    """Declared multivector index through the full client stack (r10):
    ensure_vector_index on a multivector builds + registers the
    token-level coarse index (the reference's HNSW-over-multivector
    analogue) and query_points routes MaxSim through it. Full probe
    (nprobe == n_clusters, no candidate cap) makes the routed plan equal
    the exact scan, so it shares the exact MaxSim oracle (over the
    500-row slice)."""
    from qdrant_spark.client import QdrantSparkClient

    rows = _emb_rows500(spark, sf)
    dim = len(rows[0]["embedding"])
    td = dim // 8
    c = QdrantSparkClient(spark)
    c.create_collection("entry_mv_planned", vectors_config={
        "late": {"size": td, "distance": "Dot",
                 "multivector_config": {"comparator": "max_sim"}}})
    c.upsert("entry_mv_planned", [
        {"id": int(r["vec_id"]),
         "vector": {"late": [
             [float(x) for x in r["embedding"][i * td:(i + 1) * td]]
             for i in range(8)]}}
        for r in rows])
    assert c.ensure_vector_index(
        "entry_mv_planned", using="late", n_clusters=8, nprobe=8,
        indexing_threshold=0) == "built"
    q = [[float(x) for x in rows[0]["embedding"][i * td:(i + 1) * td]]
         for i in range(8)]
    res = c.query_points("entry_mv_planned", query=q, using="late",
                         limit=10, with_payload=False)
    return local_df(spark, 
        [(p.id, round(p.score, 6)) for p in res.points],
        "vec_id long, score double")


_MAXSIM_PLANNED_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
      WHERE vec_id < 500),
d AS (SELECT len(v) // 8 AS td FROM e LIMIT 1),
s AS (SELECT e.vec_id,
  list_aggregate(list_transform(generate_series(0, 7), qi ->
    list_aggregate(list_transform(generate_series(0, 7), di ->
      list_dot_product(q.qv[qi*d.td+1:qi*d.td+d.td],
                       e.v[di*d.td+1:di*d.td+d.td])), 'max')),
    'sum') AS score
  FROM e, q, d)
SELECT vec_id, round(score, 6) AS score FROM s
ORDER BY s.score DESC, vec_id LIMIT 10
"""


def _q_ann_ivf_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Bulk ANN: per-query cluster probing via a (qid, cluster) pairs join.
    nprobe == n_clusters probes everything, so results equal the exact
    batch scan (same oracle as knn_batch)."""
    from qdrant_spark.operators.ann import build_ivf, ivf_search_batch

    emb = _emb(spark, sf)
    idx = build_ivf(emb, n_clusters=8, vec_col="embedding", id_col="vec_id")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = ivf_search_batch(idx, queries, k=10, nprobe=8, metric="cosine") \
        .select("qid", "vec_id", "score", "rank")
    return _long(_r6(out, "score"), "rank")


def _q_sq_rescore(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar-quantized coarse scan + exact rescore of k*oversampling
    candidates (QuantizationSearchParams, types.rs:573-628). With rescore
    on, results equal the exact scan whenever the true top-k survives the
    coarse cut — the oracle asserts exactly that."""
    from qdrant_spark.operators.quantize import build_sq, sq_search

    emb = _emb(spark, sf)
    idx = build_sq(emb, vec_col="embedding", id_col="vec_id")
    q = _vecs(spark, sf, [0])[0]
    out = sq_search(idx, q, k=10, oversampling=3.0, metric="cosine")
    return _r6(out, "score")


def _q_pq_rescore(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantized ADC coarse scan (M=8 subspaces, 1 byte each —
    encoded_vectors_pq.rs) + exact rescore of k*oversampling candidates.
    Codebooks trained on the full (tiny) corpus here, so the exact top-k
    survives the coarse cut and the oracle can assert equality with the
    exact scan."""
    from qdrant_spark.operators.quantize import build_pq, pq_search

    emb = _emb(spark, sf)
    idx = build_pq(emb, vec_col="embedding", id_col="vec_id",
                   n_subspaces=8, n_centroids=256)
    q = _vecs(spark, sf, [0])[0]
    out = pq_search(idx, q, k=10, oversampling=8.0, metric="cosine")
    return _r6(out, "score")


def _q_ivf_pq_rescore(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ: cluster-pruned ADC scan over residual PQ codes + exact
    rescore — the Spark analogue of the reference's HNSW-over-quantized
    deployment (hnsw_index quantized path + encoded_vectors_pq.rs). Full
    probe + ample oversampling here, so the result equals the exact scan
    and the oracle asserts equality."""
    from qdrant_spark.operators.ann import build_ivf_pq, ivf_pq_search

    emb = _emb(spark, sf)
    idx = build_ivf_pq(emb, n_clusters=8, n_subspaces=8, n_centroids=256,
                       vec_col="embedding", id_col="vec_id", seed=3)
    q = _vecs(spark, sf, [0])[0]
    # oversampling scales with corpus size so the exact top-k always
    # survives the ADC cut regardless of sf (the coarse ranking quality is
    # relative: a fixed candidate COUNT thins out as the corpus grows)
    n = emb.count()
    out = ivf_pq_search(idx, q, k=10, nprobe=8,
                        oversampling=max(16.0, n / 40.0), metric="cosine")
    return _r6(out, "score")


def _q_ivf_pq_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental IVF-PQ ingest (r7): train on the even-id half, encode
    the odd-id half with the FROZEN centroids+codebooks
    (ann.assign_to_ivf_pq — the sampled-train/full-encode split of a
    100-TB build), then full-probe + ample-oversample search over the
    merged index; equals the exact scan over the whole corpus, so the
    oracle asserts equality."""
    from qdrant_spark.operators.ann import (
        assign_to_ivf_pq, build_ivf_pq, ivf_pq_search,
    )

    emb = _emb(spark, sf)
    base = emb.where(F.col("vec_id") % 2 == 0)
    newer = emb.where(F.col("vec_id") % 2 == 1)
    idx = build_ivf_pq(base, n_clusters=8, n_subspaces=8, n_centroids=256,
                       vec_col="embedding", id_col="vec_id", seed=3)
    merged = assign_to_ivf_pq(idx, newer)
    q = _vecs(spark, sf, [0])[0]
    n = emb.count()
    out = ivf_pq_search(merged, q, k=10, nprobe=8,
                        oversampling=max(16.0, n / 40.0), metric="cosine")
    return _r6(out, "score")


def _q_ivf_pq_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Batched IVF-PQ (bulk compressed ANN): per-query cluster probing +
    ADC over code columns + exact rescore. Full probe + corpus-scaled
    oversampling, so the result equals the exact batch scan and the
    oracle is the same SQL as knn_batch."""
    from qdrant_spark.operators.ann import build_ivf_pq, ivf_pq_search_batch

    emb = _emb(spark, sf)
    idx = build_ivf_pq(emb, n_clusters=8, n_subspaces=8, n_centroids=256,
                       vec_col="embedding", id_col="vec_id", seed=3)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    n = emb.count()
    out = ivf_pq_search_batch(
        idx, queries, k=10, nprobe=8, oversampling=max(16.0, n / 40.0),
        metric="cosine",
    ).select("qid", "vec_id", "score", "rank")
    return _long(_r6(out, "score"), "rank")


def _q_tq_rescore(spark: SparkSession, sf: str) -> DataFrame:
    """TurboQuant 2-bit coarse scan (seeded rotation + shared Lloyd-Max
    N(0,1) codebook — turboquant/{lloyd_max,quantization}.rs) + exact
    rescore. The oversampled candidate set retains the exact top-k at
    this corpus size, so the oracle asserts equality with the exact
    scan, same gate as SQ/PQ."""
    from qdrant_spark.operators.quantize import build_tq, tq_search

    emb = _emb(spark, sf)
    idx = build_tq(emb, vec_col="embedding", id_col="vec_id", bits=2)
    q = _vecs(spark, sf, [0])[0]
    out = tq_search(idx, q, k=10, oversampling=8.0, metric="cosine")
    return _r6(out, "score")


def _q_bq_rescore(spark: SparkSession, sf: str) -> DataFrame:
    """Binary (1-bit) quantization: hamming coarse stage + exact rescore.
    Approximate semantics (the 80-candidate coarse stage can miss true
    top-k members), but fully deterministic — the oracle replays the
    mean-threshold bits, hamming ranking and rescore in SQL, so this is
    value-checked; recall of the encoding is additionally gated in
    tests/test_quantize.py."""
    from qdrant_spark.operators.quantize import build_bq, bq_search

    emb = _emb(spark, sf)
    idx = build_bq(emb, vec_col="embedding", id_col="vec_id")
    q = _vecs(spark, sf, [0])[0]
    out = bq_search(idx, q, k=10, oversampling=8.0, metric="cosine")
    return _r6(out, "score")


def _q_bq_asym(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric binary quantization
    (BinaryQuantizationQueryEncoding::Scalar8Bits, types.rs:1188-1201;
    encoded_vectors_binary.rs:673-760): storage stays 1-bit, the QUERY
    keeps 8-bit scalar precision — scored as bits_count XOR+popcount
    passes over the packed words, shift-summed (the arXiv:2405.12497
    bit-plane trick). rescore=False returns the coarse estimate
    ext_dim - 2*xor/255 directly, so the oracle replays the whole
    asymmetric quantity in SQL: per-dimension code where the stored bit
    is 0, 255-code where it is 1."""
    from qdrant_spark.operators.quantize import build_bq, bq_search

    emb = _emb(spark, sf)
    idx = build_bq(emb, vec_col="embedding", id_col="vec_id",
                   query_encoding="scalar8bits")
    q = _vecs(spark, sf, [0])[0]
    out = bq_search(idx, q, k=10, oversampling=8.0, metric="cosine",
                    rescore=False)
    return _r6(out, "score")


def _bq_asym_sql() -> str:
    """Value oracle for the asymmetric 1-bit BQ coarse scan: the storage
    bit is v[d] > corpus-mean_d, the query codes are the uniform scalar
    quantization floor((q_d + max_abs)/delta + 0.5) % 256 over
    [-max_abs, +max_abs] with delta = 2*max_abs/255, and the ranked
    quantity is xor = sum_d (code_d if bit=0 else 255-code_d) — every
    step is double arithmetic DuckDB replays exactly."""
    return f"""
WITH {_Q_CTE},
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
m AS (SELECT list(mv ORDER BY d) AS means FROM (
        SELECT g.d AS d, AVG(v[g.d]) AS mv
        FROM e, (SELECT unnest(generate_series(1, (SELECT len(v) FROM e LIMIT 1))) AS d) g
        GROUP BY g.d)),
p AS (SELECT qv, list_aggregate(list_transform(qv, x -> abs(x)), 'max') AS mab
      FROM q),
c AS (SELECT len(qv) AS dim,
             list_transform(generate_series(1, len(qv)),
                 i -> CAST(floor((qv[i] + mab) / (2.0 * mab / 255.0)
                                 + 0.5) AS BIGINT) % 256) AS codes
      FROM p),
h AS (SELECT e.vec_id,
             list_aggregate(list_transform(
                 generate_series(1, len(e.v)),
                 i -> CASE WHEN e.v[i] > m.means[i]
                      THEN 255 - c.codes[i] ELSE c.codes[i] END),
                 'sum') AS x
      FROM e, m, c)
SELECT vec_id,
       round(CAST((SELECT dim FROM c) AS DOUBLE) - (2.0 / 255.0) * x, 6)
           AS score
FROM h ORDER BY x, vec_id LIMIT 10
"""


def _q_bq2_rescore(spark: SparkSession, sf: str) -> DataFrame:
    """2-bit binary quantization (BinaryQuantizationEncoding::TwoBits,
    types.rs:1036-1041; z-score zones encoded_vectors_binary.rs:624-671)
    with hamming coarse stage + exact rescore. Oversampling spans the
    whole corpus here, so the rescore equals the exact scan and the
    oracle asserts equality — the recall value of the encoding itself is
    gated at tighter oversampling in tests/test_quantize.py."""
    from qdrant_spark.operators.quantize import build_bq, bq_search

    emb = _emb(spark, sf)
    idx = build_bq(emb, vec_col="embedding", id_col="vec_id",
                   encoding="two_bits")
    q = _vecs(spark, sf, [0])[0]
    n = emb.count()
    out = bq_search(idx, q, k=10, oversampling=n / 10.0, metric="cosine")
    return _r6(out, "score")


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


# --- round 3: training-data curation operators ---------------------------

def _q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id%17==0 act as the held-out
    benchmark; every other doc is training data flagged if it shares any
    word 3-gram. Runs the scale path (xxhash64'd grams, broadcast bench
    side); the oracle joins raw grams — counts agree absent 64-bit hash
    collisions (property-tested in tests/test_curation.py)."""
    from qdrant_spark.operators.curation import decontaminate

    d = _docs(spark, sf)
    return decontaminate(
        d.where(F.col("doc_id") % 17 != 0),
        d.where(F.col("doc_id") % 17 == 0),
        n=3,
        hash_grams=True,
    ).select(
        "doc_id",
        F.col("contaminated_grams").cast("long").alias("contaminated_grams"),
        "contaminated",
    )


_DECONTAMINATE_SQL = r"""
WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
g AS (SELECT doc_id, array_to_string(w.w[i.i : i.i + 2], ' ') AS gram
      FROM w, unnest(range(1, len(w.w) - 1)) i(i)),
bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 17 = 0),
hits AS (SELECT g.doc_id, count(DISTINCT g.gram) cg
         FROM g JOIN bg USING (gram) WHERE g.doc_id % 17 <> 0 GROUP BY g.doc_id)
SELECT d.doc_id, coalesce(cg, 0) AS contaminated_grams,
       coalesce(cg, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0) d
LEFT JOIN hits USING (doc_id)
"""


def _q_gopher_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher/C4 per-document quality signals — all per-row column
    expressions (zero shuffles; the top-2-gram argmax runs inside the row
    via array_sort with a comparator)."""
    from qdrant_spark.operators.curation import gopher_quality

    out = gopher_quality(_docs(spark, sf))
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        "mean_word_len", "dup_word_frac",
        F.col("stopword_count").cast("long").alias("stopword_count"),
        "alpha_word_frac", "dup_line_frac", "top_2gram_char_frac",
    )


def _q_repetition_signals(spark: SparkSession, sf: str) -> DataFrame:
    """Full Gopher repetition-filter set (dup-line chars, top-2/3/4-gram
    chars, dup-5/10-gram chars) — per-row column expressions computed by a
    single sorted-run fold per signal (curation._run_stats), zero
    shuffles."""
    from qdrant_spark.operators.curation import repetition_signals

    return repetition_signals(_docs(spark, sf))


def _q_c4_line_filter(spark: SparkSession, sf: str) -> DataFrame:
    """C4 line-level cleaning. The synthetic docs are single-line and
    unpunctuated, so the gate pins the word-count floor (60 — splits the
    corpus near its median) and the blocklist ('slow' occurs naturally);
    terminal-punctuation is exercised in tests with punctuated fixtures."""
    from qdrant_spark.operators.curation import c4_line_filter

    return c4_line_filter(
        _docs(spark, sf), min_words_per_line=60,
        require_terminal_punct=False, blocklist=("javascript", "slow"),
    )


_C4_LINE_SQL = r"""
WITH t AS (SELECT doc_id, string_split(text, chr(10)) l FROM documents),
k AS (SELECT doc_id, l,
  list_filter(l, x ->
      len(list_filter(string_split_regex(trim(x), '\s+'), w -> w <> '')) >= 60
      AND NOT contains(lower(x), 'javascript')
      AND NOT contains(lower(x), 'slow')) AS kept
  FROM t)
SELECT doc_id, coalesce(array_to_string(kept, chr(10)), '') AS text_clean,
  len(l) AS n_lines, len(kept) AS n_kept, len(kept) < 1 AS dropped
FROM k
"""


def _q_corpus_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language corpus profile: counts, char sums/means, exact p50/p90
    (interpolated), distinct sources. One agg shuffle on the stratum."""
    from qdrant_spark.operators.curation import corpus_stats

    return corpus_stats(_docs(spark, sf))


_CORPUS_STATS_SQL = r"""
SELECT lang,
  count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
  round(avg(n_chars), 6) AS avg_n_chars,
  round(quantile_cont(n_chars, 0.5), 6) AS p50_n_chars,
  round(quantile_cont(n_chars, 0.9), 6) AS p90_n_chars,
  count(DISTINCT source) AS n_source
FROM documents GROUP BY lang
"""


_MIX_WEIGHTS = {"en": 0.4, "de": 0.15, "fr": 0.15, "es": 0.15, "zh": 0.15}


def _q_mixture_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Target-mixture (domain-balancing) sample over lang: feasible size
    T = min(n_s/w_s) and per-stratum fractions computed in-plan, rows kept
    by the deterministic md5 Bernoulli filter."""
    from qdrant_spark.operators.curation import mixture_sample

    return mixture_sample(_docs(spark, sf), "lang", _MIX_WEIGHTS).select(
        "doc_id", "lang"
    )


_MIXTURE_SQL = r"""
WITH w(lang, wt) AS (VALUES ('en', 0.4), ('de', 0.15), ('fr', 0.15),
                            ('es', 0.15), ('zh', 0.15)),
c AS (SELECT d.lang, CAST(count(*) AS DOUBLE) n, any_value(w.wt) wt
      FROM documents d JOIN w ON d.lang = w.lang
      WHERE w.wt > 0 GROUP BY d.lang),
t AS (SELECT min(n / wt) tm FROM c)
SELECT d.doc_id, d.lang
FROM documents d JOIN c ON d.lang = c.lang, t
WHERE substr(md5(concat(CAST(d.doc_id AS VARCHAR), ':', 'mix')), 1, 8)
      < lpad(lower(to_hex(CAST(least(floor(c.wt * t.tm / c.n * 4294967296.0),
                                     4294967295.0) AS BIGINT))), 8, '0')
"""


def _q_lm_score(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style unigram-LM scoring: smoothed log-probs over the top-500
    corpus tokens (forcing real OOV traffic at test scale), self-scored.
    Token counting is map-side combined; the vocab broadcasts."""
    from qdrant_spark.operators.curation import lm_score

    return lm_score(_docs(spark, sf), vocab_size=500, alpha=1.0)


_LM_SCORE_SQL = r"""
WITH tk AS (SELECT doc_id, t AS tok
            FROM (SELECT doc_id,
                         string_split_regex(lower(trim(text)), '\s+') w
                  FROM documents), unnest(w) AS u(t)
            WHERE t <> ''),
cnts AS (SELECT tok, count(*) cnt FROM tk GROUP BY tok),
tot AS (SELECT sum(cnt) total FROM cnts),
vocab AS (SELECT tok, ln((cnt + 1.0) / (tot.total + 501.0)) lp
          FROM cnts, tot ORDER BY cnt DESC, tok LIMIT 500),
oov AS (SELECT ln(1.0 / (total + 501.0)) lp FROM tot),
agg AS (SELECT tk.doc_id,
               count(*) n_tokens,
               count(CASE WHEN v.lp IS NULL THEN 1 END) n_oov,
               avg(coalesce(v.lp, oov.lp)) av
        FROM tk LEFT JOIN vocab v USING (tok), oov
        GROUP BY tk.doc_id)
SELECT d.doc_id,
  coalesce(agg.n_tokens, 0) AS n_tokens,
  coalesce(round(agg.n_oov * 1.0 / agg.n_tokens, 6), 0.0) AS oov_frac,
  coalesce(round(agg.av, 6), 0.0) AS avg_logprob
FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
"""


def _q_lm_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet head/middle/tail bucketing: exact tercile thresholds of the
    unigram-LM score, assigned in one map-only pass (thresholds stay
    in-plan via a broadcast 1-row crossJoin)."""
    from qdrant_spark.operators.curation import lm_buckets

    return lm_buckets(_docs(spark, sf), vocab_size=500, alpha=1.0)


_LM_BUCKETS_SQL = r"""
WITH tk AS (SELECT doc_id, t AS tok
            FROM (SELECT doc_id,
                         string_split_regex(lower(trim(text)), '\s+') w
                  FROM documents), unnest(w) AS u(t)
            WHERE t <> ''),
cnts AS (SELECT tok, count(*) cnt FROM tk GROUP BY tok),
tot AS (SELECT sum(cnt) total FROM cnts),
vocab AS (SELECT tok, ln((cnt + 1.0) / (tot.total + 501.0)) lp
          FROM cnts, tot ORDER BY cnt DESC, tok LIMIT 500),
oov AS (SELECT ln(1.0 / (total + 501.0)) lp FROM tot),
agg AS (SELECT tk.doc_id,
               count(*) n_tokens,
               count(CASE WHEN v.lp IS NULL THEN 1 END) n_oov,
               avg(coalesce(v.lp, oov.lp)) av
        FROM tk LEFT JOIN vocab v USING (tok), oov
        GROUP BY tk.doc_id),
scored AS (SELECT d.doc_id,
             coalesce(agg.n_tokens, 0) AS n_tokens,
             coalesce(round(agg.n_oov * 1.0 / agg.n_tokens, 6), 0.0) AS oov_frac,
             coalesce(round(agg.av, 6), 0.0) AS avg_logprob
           FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id),
cuts AS (SELECT round(quantile_cont(avg_logprob, 1.0/3.0), 6) AS lo,
                round(quantile_cont(avg_logprob, 2.0/3.0), 6) AS hi
         FROM scored)
SELECT s.doc_id, s.n_tokens, s.oov_frac, s.avg_logprob,
       CASE WHEN s.avg_logprob >= cuts.hi THEN 'head'
            WHEN s.avg_logprob >= cuts.lo THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored s, cuts
"""


def _q_dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance log-ratios of the whole corpus against the English
    subset as the target (hashed unigram+bigram models, 2000 buckets) —
    both bucket models broadcast; the corpus is touched once."""
    from qdrant_spark.operators.curation import dsir_weights

    docs = _docs(spark, sf)
    return dsir_weights(docs, docs.filter(F.col("lang") == "en"),
                        n_buckets=2000)


_DSIR_SQL = r"""
WITH tw AS (SELECT doc_id, lang,
                   list_filter(string_split_regex(lower(trim(text)), '\s+'),
                               t -> t <> '') w
            FROM documents),
uni AS (SELECT doc_id, lang, t AS g FROM tw, unnest(w) AS u(t)),
bi AS (SELECT doc_id, lang, array_to_string(tw.w[i.i : i.i + 1], ' ') g
       FROM tw, unnest(range(1, len(tw.w))) i(i) WHERE len(tw.w) >= 2),
feats AS (SELECT doc_id, lang,
                 ('0x' || substring(md5(g), 1, 15))::BIGINT % 2000 AS bucket
          FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
ct AS (SELECT bucket, count(*) cnt FROM feats WHERE lang = 'en'
       GROUP BY bucket),
cr AS (SELECT bucket, count(*) cnt FROM feats GROUP BY bucket),
tt AS (SELECT coalesce(sum(cnt), 0) + 2000.0 AS denom FROM ct),
tr AS (SELECT coalesce(sum(cnt), 0) + 2000.0 AS denom FROM cr),
scored AS (SELECT f.doc_id,
                  ln((coalesce(ct.cnt, 0) + 1.0) / tt.denom)
                  - ln((coalesce(cr.cnt, 0) + 1.0) / tr.denom) AS d
           FROM feats f
           LEFT JOIN ct USING (bucket)
           LEFT JOIN cr USING (bucket), tt, tr),
agg AS (SELECT doc_id, count(*) n_feats, round(sum(d), 6) lr
        FROM scored GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(agg.n_feats, 0) AS n_feats,
       coalesce(agg.lr, 0.0) AS log_ratio
FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
"""


def _q_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Concat-and-chunk sequence packing: per md5-hash group, documents
    lay end-to-end ordered by id and cut every 512 tokens; the cumsum
    window partitions by group so every stream packs independently."""
    from qdrant_spark.operators.curation import pack_sequences

    return pack_sequences(_docs(spark, sf), 512, n_groups=8)


_PACK_SEQUENCES_SQL = r"""
WITH base AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5('pack' || ':' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS INT) AS grp,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                              t -> t <> '')) AS BIGINT) AS n_tokens
  FROM documents),
cum AS (
  SELECT doc_id, grp AS "group", n_tokens,
         sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS tok_start
  FROM base)
SELECT doc_id, "group", n_tokens,
       CAST(tok_start AS BIGINT) AS tok_start,
       CAST(floor(tok_start / 512.0) AS BIGINT) AS start_seq,
       CAST(floor((tok_start + greatest(n_tokens - 1, 0)) / 512.0) AS BIGINT) AS end_seq
FROM cum
"""


_REPETITION_SQL = r"""
WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') w,
                  string_split(text, chr(10)) l FROM documents),
lc AS (SELECT t.doc_id, v, count(*) c
       FROM t, unnest(t.l) AS u(v) GROUP BY t.doc_id, v),
ldup AS (SELECT doc_id, sum(c * length(v)) ch FROM lc WHERE c > 1 GROUP BY doc_id),
g2 AS (SELECT doc_id, array_to_string(t.w[i.i : i.i + 1], ' ') gram
       FROM t, unnest(range(1, len(t.w))) i(i)),
g2c AS (SELECT doc_id, gram, count(*) cnt FROM g2 GROUP BY doc_id, gram),
g2t AS (SELECT doc_id, cnt * length(gram) ch FROM (
          SELECT doc_id, cnt, gram,
                 row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) rn
          FROM g2c) WHERE rn = 1),
g3 AS (SELECT doc_id, array_to_string(t.w[i.i : i.i + 2], ' ') gram
       FROM t, unnest(range(1, len(t.w) - 1)) i(i) WHERE len(t.w) >= 3),
g3c AS (SELECT doc_id, gram, count(*) cnt FROM g3 GROUP BY doc_id, gram),
g3t AS (SELECT doc_id, cnt * length(gram) ch FROM (
          SELECT doc_id, cnt, gram,
                 row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) rn
          FROM g3c) WHERE rn = 1),
g4 AS (SELECT doc_id, array_to_string(t.w[i.i : i.i + 3], ' ') gram
       FROM t, unnest(range(1, len(t.w) - 2)) i(i) WHERE len(t.w) >= 4),
g4c AS (SELECT doc_id, gram, count(*) cnt FROM g4 GROUP BY doc_id, gram),
g4t AS (SELECT doc_id, cnt * length(gram) ch FROM (
          SELECT doc_id, cnt, gram,
                 row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) rn
          FROM g4c) WHERE rn = 1),
g5 AS (SELECT doc_id, array_to_string(t.w[i.i : i.i + 4], ' ') gram
       FROM t, unnest(range(1, len(t.w) - 3)) i(i) WHERE len(t.w) >= 5),
g5c AS (SELECT doc_id, gram, count(*) cnt FROM g5 GROUP BY doc_id, gram),
g5d AS (SELECT doc_id, sum(cnt * length(gram)) ch FROM g5c WHERE cnt > 1 GROUP BY doc_id),
g10 AS (SELECT doc_id, array_to_string(t.w[i.i : i.i + 9], ' ') gram
        FROM t, unnest(range(1, len(t.w) - 8)) i(i) WHERE len(t.w) >= 10),
g10c AS (SELECT doc_id, gram, count(*) cnt FROM g10 GROUP BY doc_id, gram),
g10d AS (SELECT doc_id, sum(cnt * length(gram)) ch FROM g10c WHERE cnt > 1 GROUP BY doc_id)
SELECT t.doc_id,
  CASE WHEN length(t.text) > 0 THEN round(least(coalesce(ldup.ch, 0) * 1.0 / length(t.text), 1.0), 6) ELSE 0.0 END AS dup_line_char_frac,
  CASE WHEN length(t.text) > 0 THEN round(least(coalesce(g2t.ch, 0) * 1.0 / length(t.text), 1.0), 6) ELSE 0.0 END AS top_2gram_char_frac,
  CASE WHEN length(t.text) > 0 THEN round(least(coalesce(g3t.ch, 0) * 1.0 / length(t.text), 1.0), 6) ELSE 0.0 END AS top_3gram_char_frac,
  CASE WHEN length(t.text) > 0 THEN round(least(coalesce(g4t.ch, 0) * 1.0 / length(t.text), 1.0), 6) ELSE 0.0 END AS top_4gram_char_frac,
  CASE WHEN length(t.text) > 0 THEN round(least(coalesce(g5d.ch, 0) * 1.0 / length(t.text), 1.0), 6) ELSE 0.0 END AS dup_5gram_char_frac,
  CASE WHEN length(t.text) > 0 THEN round(least(coalesce(g10d.ch, 0) * 1.0 / length(t.text), 1.0), 6) ELSE 0.0 END AS dup_10gram_char_frac
FROM t
LEFT JOIN ldup ON t.doc_id = ldup.doc_id
LEFT JOIN g2t ON t.doc_id = g2t.doc_id
LEFT JOIN g3t ON t.doc_id = g3t.doc_id
LEFT JOIN g4t ON t.doc_id = g4t.doc_id
LEFT JOIN g5d ON t.doc_id = g5d.doc_id
LEFT JOIN g10d ON t.doc_id = g10d.doc_id
"""


_GOPHER_SQL = r"""
WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') w,
                  string_split(text, chr(10)) l FROM documents),
g AS (SELECT doc_id, array_to_string(t.w[i.i : i.i + 1], ' ') gram
      FROM t, unnest(range(1, len(t.w))) i(i)),
gc AS (SELECT doc_id, gram, count(*) cnt FROM g GROUP BY doc_id, gram),
top AS (SELECT doc_id, cnt, gram,
        row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) rn FROM gc)
SELECT t.doc_id,
  len(t.w) AS n_words,
  round(list_sum(list_transform(t.w, x -> length(x))) * 1.0 / len(t.w), 6) AS mean_word_len,
  round(1.0 - len(list_distinct(t.w)) * 1.0 / len(t.w), 6) AS dup_word_frac,
  len(list_filter(t.w, x -> list_contains(['the','a','an','of','and','in','to','is'], x))) AS stopword_count,
  round(len(list_filter(t.w, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(t.w), 6) AS alpha_word_frac,
  round(1.0 - len(list_distinct(t.l)) * 1.0 / len(t.l), 6) AS dup_line_frac,
  coalesce(round(top.cnt * length(top.gram) * 1.0 / length(t.text), 6), 0.0) AS top_2gram_char_frac
FROM t LEFT JOIN top ON t.doc_id = top.doc_id AND top.rn = 1
"""


def _pii_augment(col_id: str = "doc_id"):
    """Deterministic PII injection shared by the Spark entry and (as SQL)
    the oracle — the synthetic docs contain no PII of their own."""
    did = F.col(col_id)
    return F.concat(
        F.col("text"),
        F.when(did % 3 == 0, F.concat(
            F.lit(" contact user"), did.cast("string"), F.lit("@example.com"),
        )).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.concat(
            F.lit(" from 10.0."), (did % 256).cast("string"),
            F.lit("."), ((did % 254) + 1).cast("string"),
        )).otherwise(F.lit("")),
        F.when(did % 7 == 0, F.lit(" call +1 555 867 5309")).otherwise(F.lit("")),
    )


def _q_pii_scan(spark: SparkSession, sf: str) -> DataFrame:
    """PII detect + redact over deterministically-injected emails / IPv4s /
    phone numbers. Counts per kind plus the redacted-text length (the
    redaction itself is asserted by the length change)."""
    from qdrant_spark.operators.curation import pii_counts, pii_redact

    aug = _docs(spark, sf).withColumn("text", _pii_augment())
    counts = pii_counts(aug).select(
        "doc_id",
        *[F.col(c).cast("long").alias(c)
          for c in ("n_email", "n_ipv4", "n_phone", "n_pii")],
    )
    red = pii_redact(aug).select("doc_id", F.length("text").alias("red_len"))
    return counts.join(red, "doc_id").select(
        "doc_id", "n_email", "n_ipv4", "n_phone", "n_pii",
        F.col("red_len").cast("long").alias("red_len"),
    )


_PII_AUG_SQL = (
    "text"
    " || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 254 + 1 AS VARCHAR) ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN ' call +1 555 867 5309' ELSE '' END"
)


def _pii_sql() -> str:
    from qdrant_spark.operators.curation import PII_PATTERNS

    e, i, p = (PII_PATTERNS[k] for k in ("email", "ipv4", "phone"))
    red = (
        f"regexp_replace(regexp_replace(regexp_replace(t, '{e}', '[PII:email]', 'g'),"
        f" '{i}', '[PII:ipv4]', 'g'), '{p}', '[PII:phone]', 'g')"
    )
    return f"""
WITH a AS (SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents),
c AS (SELECT doc_id,
      len(regexp_extract_all(t, '{e}')) AS n_email,
      len(regexp_extract_all(t, '{i}')) AS n_ipv4,
      len(regexp_extract_all(t, '{p}')) AS n_phone,
      length({red}) AS red_len
      FROM a)
SELECT doc_id, n_email, n_ipv4, n_phone,
       n_email + n_ipv4 + n_phone AS n_pii, red_len FROM c
"""


def _q_chunk_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Token-window chunking (size=32, overlap=8): per-row explode, no
    shuffle; chunk boundaries pinned by the oracle."""
    from qdrant_spark.operators.curation import chunk_documents

    return chunk_documents(_docs(spark, sf), size=32, overlap=8)


_CHUNK_SQL = r"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
c AS (SELECT doc_id, k.k AS chunk_idx, t.w[k.k * 24 + 1 : k.k * 24 + 32] AS cw
      FROM t, unnest(range(0, CAST(greatest(1, ceil((len(t.w) - 8) / 24.0)) AS BIGINT))) k(k))
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       array_to_string(cw, ' ') AS chunk_text, CAST(len(cw) AS BIGINT) AS n_tokens
FROM c
"""


def _q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic per-language Bernoulli sample (md5-bucket threshold):
    map-only filter, no shuffle — the 100 TB-safe sampling path."""
    from qdrant_spark.operators.curation import stratified_sample

    out = stratified_sample(
        _docs(spark, sf), "lang", {"en": 0.5, "fr": 0.25},
        id_col="doc_id", default_fraction=0.1,
    )
    return out.select("doc_id", "lang")


def _stratified_sample_sql() -> str:
    from qdrant_spark.operators.curation import fraction_threshold

    t_en, t_fr, t_def = (fraction_threshold(f) for f in (0.5, 0.25, 0.1))
    return f"""
SELECT doc_id, lang FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':strata'), 1, 8) <
      CASE lang WHEN 'en' THEN '{t_en}' WHEN 'fr' THEN '{t_fr}'
                ELSE '{t_def}' END
"""


def _q_stratified_quota(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic top-7-per-language sample ordered by the md5 bucket
    (one window shuffle on the stratum key)."""
    from qdrant_spark.operators.curation import stratified_quota

    return stratified_quota(
        _docs(spark, sf), "lang", quota=7, id_col="doc_id"
    ).select("doc_id", "lang")


_STRATIFIED_QUOTA_SQL = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang, row_number() OVER (
    PARTITION BY lang
    ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || ':strata'), 1, 8), doc_id) rn
  FROM documents) WHERE rn <= 7
"""


def _q_embedding_project(spark: SparkSession, sf: str) -> DataFrame:
    """Signed random projection 64 -> 4 dims (Achlioptas / JL): the ±1 sign
    matrix is an md5-derived plan-time literal, each output dim one
    codegen'd fold — no UDF, no shuffle."""
    from qdrant_spark.operators.curation import (
        project_embeddings, random_sign_matrix,
    )

    signs = random_sign_matrix(64, 4, seed=1)
    return project_embeddings(_emb(spark, sf), signs)


def _embedding_project_sql() -> str:
    from qdrant_spark.operators.curation import random_sign_matrix

    signs = random_sign_matrix(64, 4, seed=1)
    cols = ",\n  ".join(
        "round(list_dot_product(v, ["
        + ", ".join(str(float(s)) for s in signs[i])
        + f"]) * 0.5, 6) AS p{i}"
        for i in range(4)
    )
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)\n"
        f"SELECT vec_id, {cols} FROM e"
    )


def _q_ngram_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus word-2-gram count table with a min-count floor — one explode
    + one agg on the gram key (map-side partial agg collapses duplicates
    before the shuffle)."""
    from qdrant_spark.operators.curation import ngram_counts

    return _docs(spark, sf).transform(
        lambda d: ngram_counts(d, n=2, min_count=5)
    )


_NGRAM_COUNTS_SQL = r"""
WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
g AS (SELECT array_to_string(w.w[i.i : i.i + 1], ' ') AS gram
      FROM w, unnest(range(1, len(w.w))) i(i))
SELECT gram, count(*) AS cnt FROM g GROUP BY gram HAVING count(*) >= 5
"""


def _q_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-weighted deterministic downsampling: keep probability
    proportional to doc length (min(1, n_chars/600)), decided by an
    md5-uniform per row — map-only, no shuffle, reproducible in any
    engine."""
    from qdrant_spark.operators.curation import weighted_sample

    d = _docs(spark, sf).withColumn(
        "__p", F.least(F.lit(1.0), F.col("n_chars") / F.lit(600.0))
    )
    return weighted_sample(d, "__p", id_col="doc_id").select("doc_id", "lang")


_WEIGHTED_SAMPLE_SQL = """
SELECT doc_id, lang FROM documents
WHERE list_sum(list_transform(range(8), i ->
        (strpos('0123456789abcdef',
                substr(substr(md5(CAST(doc_id AS VARCHAR) || ':weighted'), 1, 8),
                       i + 1, 1)) - 1) * power(16, 7 - i))) / 4294967296.0
      < least(1.0, n_chars / 600.0)
"""


def _q_maxsim_degrade(spark: SparkSession, sf: str) -> DataFrame:
    """Membership-fraction DEGRADE of the composed multivector ladder
    (r15): a route that opts in via ``degrade_membership`` estimates the
    probe-union membership fraction from metadata (memoized per-cluster
    token counts, multivec.maxsim_membership_fraction); here the full
    probe makes it exactly 1 — the candidate stage would admit every doc
    — so the planner degrades the request to the quant-only
    coarse+rescore leaf instead of the composed ladder (asserted via
    last_plan_info). Ample oversampling + exact rescore make the answer
    equal the exact MaxSim scan, which the oracle recomputes."""
    from dataclasses import replace

    from qdrant_spark.operators.multivec import (
        MaxSimRoute, build_maxsim_ivf, build_maxsim_sq,
    )
    from qdrant_spark.query import QueryPlanner

    emb = _emb(spark, sf)
    q = _vecs(spark, sf, [0])[0]
    q_mv = [q[i * 8:(i + 1) * 8] for i in range(8)]
    d_mv = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: F.slice(F.col("embedding").cast("array<double>"), i * 8 + 1, 8),
    )
    pts = emb.select("vec_id", d_mv.alias("mv"))
    n = pts.count()
    idx = build_maxsim_ivf(pts, n_clusters=8, mv_col="mv", id_col="vec_id")
    sqidx = replace(build_maxsim_sq(pts, mv_col="mv", id_col="vec_id"),
                    full_scan_threshold=0)
    route = MaxSimRoute(index=idx, nprobe=8, full_scan_threshold=0,
                        degrade_membership=0.95)
    planner = QueryPlanner(pts, id_col="vec_id", default_vec_col="mv",
                           metric="dot", indexes={"mv": [route, sqidx]})
    out = planner.plan({
        "query": {"nearest": q_mv}, "limit": 10,
        "params": {"quantization": {"oversampling": n / 10.0}}})
    pi = planner.last_plan_info
    assert pi.get("maxsim_degraded_leaves") == 1, pi
    assert not pi.get("maxsim_quant_ivf_leaves"), pi
    return _r6(out.select("vec_id", "score"), "score")


def _q_maxsim_degrade_routed(spark: SparkSession, sf: str) -> DataFrame:
    """The KEEP side of the membership degrade (r15): a topically
    clustered corpus (each doc's two tokens share one of two fixed
    token clusters) probed at nprobe=1 gives probed token mass 0.5 and
    estimated membership 0.75 < the 0.9 threshold, so the planner KEEPS
    the composed probe→coarse-over-codes→rescore ladder (asserted via
    last_plan_info). Deterministic centroids make the candidate set
    SQL-expressible: candidates = docs whose tokens sit in the probed
    cluster (odd ids); ample oversampling + exact rescore equal the
    exact MaxSim top-k over those candidates, which the oracle
    recomputes."""
    from dataclasses import replace

    import numpy as np

    from qdrant_spark.operators.ann import ivf_from_centroids
    from qdrant_spark.operators.multivec import (
        MaxSimIvf, MaxSimRoute, build_maxsim_sq,
    )
    from qdrant_spark.query import QueryPlanner

    ids = [int(r["vec_id"]) for r in _emb_rows500(spark, sf)]
    rows = [(i, [[float(i % 2), 0.001 * i, 0.5, 0.25],
                 [float(i % 2), 0.002 * i, 0.125, 0.0625]]) for i in ids]
    pts = local_df(spark, rows, "vec_id long, mv array<array<double>>")
    cents = np.array([[0.0, 0.0, 0.0, 0.0], [1.0, 0.0, 0.0, 0.0]])
    toks = pts.select("vec_id", F.explode("mv").alias("__tok"))
    assigned = ivf_from_centroids(toks, cents, vec_col="__tok",
                                  id_col="vec_id").assigned
    idx = MaxSimIvf(tokens=assigned.select("vec_id", "__cluster"),
                    centroids=cents, points=pts,
                    mv_col="mv", id_col="vec_id")
    sqidx = replace(build_maxsim_sq(pts, mv_col="mv", id_col="vec_id"),
                    full_scan_threshold=0)
    route = MaxSimRoute(index=idx, nprobe=1, full_scan_threshold=0,
                        degrade_membership=0.9)
    planner = QueryPlanner(pts, id_col="vec_id", default_vec_col="mv",
                           metric="dot", indexes={"mv": [route, sqidx]})
    q_mv = [[1.0, 0.5, 0.5, 0.25], [1.0, 0.9, 0.125, 0.0625]]
    out = planner.plan({
        "query": {"nearest": q_mv}, "limit": 10,
        "params": {"quantization": {"oversampling": 50.0}}})
    pi = planner.last_plan_info
    assert pi.get("maxsim_quant_ivf_leaves") == 1, pi
    assert not pi.get("maxsim_degraded_leaves"), pi
    return _r6(out.select("vec_id", "score"), "score")


_MAXSIM_DEGRADE_ROUTED_SQL = """
WITH ids AS (SELECT vec_id FROM embeddings WHERE vec_id < 500),
tok AS (SELECT vec_id,
        [[CAST(vec_id % 2 AS DOUBLE), 0.001 * vec_id, 0.5, 0.25],
         [CAST(vec_id % 2 AS DOUBLE), 0.002 * vec_id, 0.125, 0.0625]] AS tv
        FROM ids),
cand AS (SELECT * FROM tok WHERE vec_id % 2 = 1),
q AS (SELECT [[1.0, 0.5, 0.5, 0.25], [1.0, 0.9, 0.125, 0.0625]] AS qv),
s AS (SELECT c.vec_id, qi.i AS qi,
             max(list_dot_product(q.qv[qi.i], c.tv[di.i])) AS m
      FROM cand c, q, generate_series(1, 2) qi(i),
           generate_series(1, 2) di(i)
      GROUP BY c.vec_id, qi.i),
t AS (SELECT vec_id, sum(m) AS score FROM s GROUP BY vec_id)
SELECT vec_id, round(score, 6) AS score FROM t
ORDER BY score DESC, vec_id LIMIT 10
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: dense prefetch + text-derived sparse
    prefetch over the same points, fused with RRF — the reference's
    hybrid-search shape through the universal Query API (prefetch tree +
    fusion, collection_query.rs:90-106)."""
    return _q_universal_hybrid_sparse(spark, "/root/testdata/sf0.001")


# The driver's correctness gate truncates at 50 entries per round, so the
# gate ROTATES: entries new this round run first, then entries whose most
# recent driver row is oldest (r1 before r2; everything re-gated in r3
# drops to the back). Keep rotating each round so no entry's driver row
# goes more than ~2 rounds stale.
_GATE_PRIORITY = [
    # round-15 head: the 2 entries new this round (the membership
    # degrade of the composed multivector ladder), then the 7 r11-stale
    # deferrals the r14 verdict scheduled to head this rotation (each
    # re-verified locally every round since), then 41 of the 50-entry
    # r12-stale cohort. The 9 deferred r12 entries — knn_dot,
    # knn_euclid, knn_manhattan (same single-KNN route as the kept
    # knn_cosine), knn_batch_matmul / knn_batch_partial (same batch
    # route as knn_batch), filter_text_stemmed_de (same stemmed route
    # as filter_text_stemmed), scroll_random (same scroll machinery as
    # scroll_keyset/scroll_order_by), recommend_sum_scores (same
    # recommend rewrite as recommend_avg_vector),
    # field_index_uuid (same field-index stats route as
    # field_index_stats) — are locally re-verified this round and head
    # the r16 rotation.
    "maxsim_degrade",
    "maxsim_degrade_routed",
    # --- r11-stale deferrals (head of the carried backlog) ---
    "ann_ivf_full_probe",
    "ann_ivf_batch",
    "ann_ivf_pq_batch",
    "ann_ivf_pq_rescore",
    "maxsim",
    "maxsim_knn",
    "maxsim_sq_batch",
    # --- r12-stale cohort (41 of 50; 9 deferred as documented above) ---
    "bm25_search",
    "distance_matrix_offsets",
    "field_index_stats",
    "filter_match_except",
    "filter_text_stemmed",
    "knn_batch",
    "knn_cosine",
    "knn_filtered",
    "knn_uint8",
    "lm_buckets",
    "lm_score",
    "maxsim_bq_asym",
    "maxsim_pq",
    "maxsim_sq_ivf_planned",
    "maxsim_tq",
    "mixture_sample",
    "quantized_pq_rescore",
    "quantized_tq_rescore",
    "query_batch",
    "recommend_avg_vector",
    "relevance_feedback",
    "repetition_signals",
    "retrieve",
    "scroll_keyset",
    "scroll_order_by",
    "set_payload",
    "shard_fallback_route",
    "shard_routed_knn",
    "similarity_join",
    "sparse_idf_corpus",
    "sparse_idf_knn",
    "sparse_knn",
    "sparse_knn_batch",
    "sync",
    "unique_values",
    "universal_hybrid",
    "universal_hybrid_sparse",
    "universal_rescore",
    "update_vectors",
    "upsert",
    "upsert_conditional",
]


def _gate_order(base: dict) -> dict:
    ordered = {k: base[k] for k in _GATE_PRIORITY if k in base}
    ordered.update({k: v for k, v in base.items() if k not in ordered})
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _gate_order({
        "decontaminate": _q_decontaminate,
        "gopher_quality": _q_gopher_quality,
        "repetition_signals": _q_repetition_signals,
        "lm_score": _q_lm_score,
        "lm_buckets": _q_lm_buckets,
        "dsir_weights": _q_dsir_weights,
        "pack_sequences": _q_pack_sequences,
        "mixture_sample": _q_mixture_sample,
        "corpus_stats": _q_corpus_stats,
        "c4_line_filter": _q_c4_line_filter,
        "pii_scan": _q_pii_scan,
        "chunk_docs": _q_chunk_docs,
        "stratified_sample": _q_stratified_sample,
        "stratified_quota": _q_stratified_quota,
        "embedding_project": _q_embedding_project,
        "ngram_counts": _q_ngram_counts,
        "weighted_sample": _q_weighted_sample,
        "knn_cosine": _q_knn("cosine"),
        "knn_dot": _q_knn("dot"),
        "knn_euclid": _q_knn("euclid"),
        "knn_manhattan": _q_knn("manhattan"),
        "knn_filtered": _q_knn(
            "cosine",
            flt={"must": [{"key": "label", "match": {"any": [1, 2, 3]}}]},
            threshold=0.1,
        ),
        "knn_batch": _q_knn_batch,
        "knn_batch_partial": _q_knn_batch,
        "knn_batch_matmul": _q_knn_batch,
        "similarity_join": _q_similarity_join,
        "scroll_random": _q_scroll_random,
        "recommend_avg_vector": _q_reco("avg"),
        "recommend_best_score": _q_reco("best"),
        "recommend_sum_scores": _q_reco("sum"),
        "discover": _q_reco("discover"),
        "context": _q_reco("context"),
        "relevance_feedback": _q_reco("feedback"),
        "fusion_rrf": _q_fusion("rrf"),
        "fusion_dbsf": _q_fusion("dbsf"),
        "group_by": _q_group(False),
        "group_by_lookup": _q_group(True),
        "distance_matrix": _q_matrix,
        "distance_matrix_offsets": _q_matrix_offsets,
        "field_index_stats": _q_field_index_stats,
        "field_index_uuid": _q_field_index_uuid,
        "shard_routed_knn": _q_shard_routed_knn,
        "shard_fallback_route": _q_shard_fallback,
        "maxsim": _q_maxsim,
        "maxsim_knn": _q_maxsim_knn,
        "maxsim_knn_indexed": _q_maxsim_knn_indexed,
        "maxsim_invlist": _q_maxsim_invlist,
        "maxsim_invlist_loaded": _q_maxsim_invlist_loaded,
        "maxsim_codes_invlist": _q_maxsim_codes_invlist,
        "maxsim_degrade": _q_maxsim_degrade,
        "maxsim_degrade_routed": _q_maxsim_degrade_routed,
        "quant_ivf_loaded": _q_quant_ivf_loaded,
        "maxsim_planned": _q_maxsim_planned,
        "maxsim_sq": _q_maxsim_sq,
        "maxsim_bq": _q_maxsim_bq,
        "maxsim_pq": _q_maxsim_pq,
        "maxsim_tq": _q_maxsim_tq,
        "maxsim_batch_kinds": _q_maxsim_batch_kinds,
        "maxsim_bq_asym": _q_maxsim_bq_asym,
        "maxsim_sq_ivf_planned": _q_maxsim_sq_ivf_planned,
        "maxsim_sq_filtered": _q_maxsim_sq_filtered,
        "maxsim_sq_batch": _q_maxsim_sq_batch,
        "maxsim_sq_planned": _q_maxsim_sq_planned,
        "scroll_keyset": _q_scroll_docs,
        "scroll_order_by": _q_scroll_events,
        "count_filtered": _q_count_events,
        "facet_lang": _q_facet("documents", "lang"),
        "facet_event_type": _q_facet("events", "event_type"),
        "facet_int_filtered": _q_facet_int_filtered,
        "facet_estimate": _q_facet_estimate,
        "unique_values": _q_unique_source,
        "retrieve": _q_retrieve,
        "filter_dsl_orders": _q_filter_orders,
        "filter_min_should": _q_filter_min_should,
        "filter_match_except": _q_filter_match_except,
        "filter_text_all": _q_filter_text("text"),
        "filter_text_stemmed": _q_filter_text_stemmed,
        "filter_text_stopworded": _q_filter_text_stopworded,
        "filter_text_stemmed_de": _q_filter_text_stemmed_de,
        "filter_text_any": _q_filter_text_any,
        "filter_has_id": _q_filter_has_id,
        "filter_has_vector": _q_filter_has_vector,
        "count_approx": _q_count_approx,
        "filter_phrase": _q_filter_text("phrase"),
        "filter_phrase_indexed": _q_filter_phrase_indexed,
        "payload_json_path": _q_events_json,
        "text_quality": _q_text_stats,
        "token_counts": _q_token_counts,
        "lang_detect": _q_lang_detect,
        "fingerprint": _q_fingerprint,
        "multimodal_wav": _q_multimodal_wav,
        "multimodal_ppm": _q_multimodal_ppm,
        "sparse_knn": _q_sparse_knn,
        "sparse_knn_persisted": _q_sparse_knn_persisted,
        "sparse_knn_planned": _q_sparse_knn_planned,
        "sparse_knn_batch": _q_sparse_knn_batch,
        "sparse_knn_batch_indexed": _q_sparse_knn_batch_indexed,
        "sparse_idf_knn": _q_sparse_idf,
        "sparse_idf_corpus": _q_sparse_idf_corpus,
        "bm25_search": _q_bm25,
        "dedup_exact": _q_exact_dedup,
        "dedup_minhash_sig": _q_minhash,
        "dedup_lsh_pairs": _q_lsh_pairs,
        "dedup_lsh_cross": _q_lsh_cross,
        "dedup_components": _q_dedup_components,
        "dedup_resolve": _q_dedup_resolve,
        "paragraph_dedup": _q_paragraph_dedup,
        "substring_dup_spans": _q_substring_dup_spans,
        "dedup_ngram_jaccard": _q_ngram_jaccard,
        "dedup_simhash": _q_simhash,
        "dedup_embedding": _q_emb_dups,
        "filter_nested": _q_filter_nested,
        "filter_jsonpath_array": _q_filter_jsonpath,
        "filter_prefix": _q_filter_prefix,
        "filter_slice": _q_filter_slice,
        "filter_is_empty": _q_filter_is_empty,
        "filter_is_null": _q_filter_is_null,
        "filter_values_count": _q_values_count,
        "query_by_id": _q_query_by_id,
        "recommend_multi_ids": _q_recommend_multi_ids,
        "geo_radius": _q_geo("radius"),
        "geo_bbox_wrap": _q_geo("bbox"),
        "geo_polygon": _q_geo("polygon"),
        "formula_rescore": _q_formula,
        "query_batch": _q_query_batch,
        "knn_uint8": _q_knn_uint8,
        "universal_hybrid": _q_universal_hybrid,
        "universal_groups": _q_universal_groups,
        "universal_hybrid_sparse": _q_universal_hybrid_sparse,
        "universal_rescore": _q_universal_rescore,
        "client_query_points": _q_client_e2e,
        "quantized_planned": _q_quantized_planned,
        "quantized_ivf_planned": _q_quantized_ivf_planned,
        "quantized_batch": _q_quantized_batch,
        "quantized_batch_kinds": _q_quantized_batch_kinds,
        "sparse_idf_by_id": _q_sparse_idf_by_id,
        "universal_groups_indexed": _q_universal_groups_indexed,
        "upsert": _q_upsert,
        "sync": _q_sync,
        "upsert_conditional": _q_upsert_conditional,
        "update_vectors": _q_update_vectors,
        "delete_by_filter": _q_delete_filter,
        "set_payload": _q_set_payload,
        "mmr": _q_mmr,
        "ann_ivf_full_probe": _q_ann_full_probe,
        "ann_ivf": _q_ann_ivf,
        "knn_auto_filtered": _q_knn_auto_filtered,
        "knn_acorn_filtered": _q_knn_acorn_filtered,
        "ann_ivf_batch": _q_ann_ivf_batch,
        "quantized_sq_rescore": _q_sq_rescore,
        "quantized_pq_rescore": _q_pq_rescore,
        "ann_ivf_pq_rescore": _q_ivf_pq_rescore,
        "ann_ivf_pq_incremental": _q_ivf_pq_incremental,
        "ann_ivf_pq_batch": _q_ivf_pq_batch,
        "geo_indexed_radius": _q_geo_indexed_radius,
        "quantized_tq_rescore": _q_tq_rescore,
        "quantized_bq_rescore": _q_bq_rescore,
        "quantized_bq2_rescore": _q_bq2_rescore,
        "quantized_bq_asym": _q_bq_asym,
    })


def oracle_sql() -> dict[str, str]:
    return _gate_order({
        "decontaminate": _DECONTAMINATE_SQL,
        "gopher_quality": _GOPHER_SQL,
        "repetition_signals": _REPETITION_SQL,
        "lm_score": _LM_SCORE_SQL,
        "lm_buckets": _LM_BUCKETS_SQL,
        "dsir_weights": _DSIR_SQL,
        "pack_sequences": _PACK_SEQUENCES_SQL,
        "mixture_sample": _MIXTURE_SQL,
        "corpus_stats": _CORPUS_STATS_SQL,
        "c4_line_filter": _C4_LINE_SQL,
        "pii_scan": _pii_sql(),
        "chunk_docs": _CHUNK_SQL,
        "stratified_sample": _stratified_sample_sql(),
        "stratified_quota": _STRATIFIED_QUOTA_SQL,
        "embedding_project": _embedding_project_sql(),
        "ngram_counts": _NGRAM_COUNTS_SQL,
        "weighted_sample": _WEIGHTED_SAMPLE_SQL,
        "knn_cosine": _knn_sql("cosine"),
        "knn_dot": _knn_sql("dot"),
        "knn_euclid": _knn_sql("euclid"),
        "knn_manhattan": _knn_sql("manhattan"),
        "knn_filtered": _knn_sql(
            "cosine", label_where="label IN (1, 2, 3)", threshold="WHERE s.score > 0.1"
        ),
        "knn_auto_filtered": _knn_sql("cosine", label_where="label IN (2, 7)"),
        "knn_acorn_filtered": _knn_sql("cosine", label_where="label IN (3, 8)"),
        "knn_batch": _KNN_BATCH_SQL,
        "knn_batch_partial": _KNN_BATCH_SQL,
        "knn_batch_matmul": _KNN_BATCH_SQL,
        "similarity_join": _SIMILARITY_JOIN_SQL,
        "scroll_random": _SCROLL_RANDOM_SQL,
        "recommend_avg_vector": _reco_sql("avg"),
        "recommend_best_score": _reco_sql("best"),
        "recommend_sum_scores": _reco_sql("sum"),
        "discover": _reco_sql("discover"),
        "context": _reco_sql("context"),
        "relevance_feedback": _reco_sql("feedback"),
        "fusion_rrf": _fusion_sql("rrf"),
        "fusion_dbsf": _fusion_sql("dbsf"),
        "group_by": _group_sql(False),
        "group_by_lookup": _group_sql(True),
        "distance_matrix": _MATRIX_SQL,
        "distance_matrix_offsets": _MATRIX_OFFSETS_SQL,
        "field_index_stats": _FIELD_INDEX_STATS_SQL,
        "field_index_uuid": _FIELD_INDEX_UUID_SQL,
        "shard_routed_knn": _SHARD_ROUTED_SQL,
        "shard_fallback_route": _SHARD_FALLBACK_SQL,
        "maxsim": _MAXSIM_SQL,
        "maxsim_knn": _MAXSIM_SQL,
        "maxsim_knn_indexed": _MAXSIM_SQL,
        "maxsim_invlist": _MAXSIM_SQL,
        "maxsim_invlist_loaded": _MAXSIM_500_SQL,
        "maxsim_codes_invlist": _MAXSIM_SQL,
        "maxsim_degrade": _MAXSIM_SQL,
        "maxsim_degrade_routed": _MAXSIM_DEGRADE_ROUTED_SQL,
        "quant_ivf_loaded": _QUANT_IVF_LOADED_SQL,
        "maxsim_sq": _MAXSIM_SQL,
        "maxsim_bq": _MAXSIM_SQL,
        "maxsim_pq": _MAXSIM_SQL,
        "maxsim_tq": _MAXSIM_SQL,
        "maxsim_batch_kinds": _MAXSIM_BATCH_KINDS_SQL,
        "maxsim_bq_asym": _MAXSIM_BQ_ASYM_SQL,
        "maxsim_sq_ivf_planned": _MAXSIM_PLANNED_SQL,
        "maxsim_sq_filtered": _MAXSIM_FILTERED_SQL,
        "maxsim_sq_batch": _MAXSIM_BATCH_SQL,
        "maxsim_planned": _MAXSIM_PLANNED_SQL,
        "maxsim_sq_planned": _MAXSIM_PLANNED_SQL,
        "scroll_keyset": """
SELECT doc_id, lang, source, n_chars FROM documents
WHERE lang = 'en' AND doc_id >= 100 ORDER BY doc_id LIMIT 20
""",
        "scroll_order_by": """
SELECT event_id, round(ev.value, 6) AS value FROM events ev
WHERE ev.value <= 90.0 ORDER BY ev.value DESC, event_id LIMIT 50
""",
        "count_filtered": """
SELECT count(*) AS count FROM events
WHERE event_type IN ('click', 'view') AND value >= 10.0 AND value < 500.0
""",
        "facet_lang": """
SELECT lang AS value, count(*) AS count FROM documents WHERE lang IS NOT NULL
GROUP BY lang ORDER BY count(*) DESC, lang ASC LIMIT 10
""",
        "facet_event_type": """
SELECT event_type AS value, count(*) AS count FROM events WHERE event_type IS NOT NULL
GROUP BY event_type ORDER BY count(*) DESC, event_type ASC LIMIT 10
""",
        "facet_int_filtered": _FACET_INT_SQL,
        "facet_estimate": """
SELECT event_type AS value,
       CAST(round(count(*) / 0.25) AS BIGINT) AS est_count
FROM events
WHERE substr(md5(CAST(event_id AS VARCHAR) || ':' || 'facet7'), 1, 8)
      < '40000000'
  AND event_type IS NOT NULL
GROUP BY event_type ORDER BY est_count DESC, event_type ASC LIMIT 10
""",
        "unique_values": "SELECT DISTINCT source AS value FROM documents WHERE source IS NOT NULL",
        "retrieve": "SELECT doc_id, lang, source FROM documents WHERE doc_id IN (1, 5, 17, 99)",
        "filter_dsl_orders": """
SELECT o_orderkey FROM orders
WHERE o_orderstatus = 'O' AND o_totalprice >= 1000.0 AND o_totalprice <= 150000.0
  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND NOT (o_orderpriority IN ('1-URGENT'))
""",
        "filter_min_should": """
SELECT l_orderkey, l_linenumber FROM lineitem
WHERE (CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
     + CASE WHEN l_quantity > 25.0 THEN 1 ELSE 0 END
     + CASE WHEN l_discount <= 0.02 THEN 1 ELSE 0 END) >= 2
""",
        "filter_match_except": _FILTER_MATCH_EXCEPT_SQL,
        "filter_text_all": f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
SELECT doc_id FROM t WHERE list_contains(toks, 'fast') AND list_contains(toks, 'hash')
""",
        "filter_text_stemmed": f"""
WITH {_stem_map_sql()},
tk AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
st AS (SELECT doc_id, coalesce(sm.stem, tk.tok) AS stem
       FROM tk LEFT JOIN sm ON tk.tok = sm.word)
SELECT doc_id FROM st GROUP BY doc_id
HAVING bool_or(stem = 'queri') AND bool_or(stem = 'merg')
""",
        "filter_text_stopworded": f"""
WITH {_stem_map_sql()},
sw(word) AS (VALUES {_stopword_values("english")}),
tk AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
ns AS (SELECT tk.doc_id, tk.tok FROM tk
       WHERE tk.tok NOT IN (SELECT word FROM sw)),
st AS (SELECT doc_id, coalesce(sm.stem, ns.tok) AS stem
       FROM ns LEFT JOIN sm ON ns.tok = sm.word)
SELECT doc_id FROM st GROUP BY doc_id
HAVING bool_or(stem = 'queri') AND bool_or(stem = 'merg')
""",
        "filter_text_stemmed_de": f"""
WITH {_stem_map_sql("german")},
tk AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
       WHERE lang = 'de'),
st AS (SELECT doc_id, coalesce(sm.stem, tk.tok) AS stem
       FROM tk LEFT JOIN sm ON tk.tok = sm.word)
SELECT doc_id FROM st GROUP BY doc_id
HAVING bool_or(stem = 'valu') AND bool_or(stem = 'tabl')
""",
        "filter_text_any": f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
SELECT doc_id FROM t
WHERE list_contains(toks, 'dup') OR list_contains(toks, 'vector')
""",
        "filter_has_id": """
SELECT vec_id, label FROM embeddings
WHERE vec_id % 3 = 0 AND vec_id < 200 AND label < 7
""",
        "filter_has_vector": _FILTER_HAS_VECTOR_SQL,
        "count_approx": _COUNT_APPROX_SQL,
        "filter_phrase": f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
SELECT doc_id FROM t
WHERE position(' hash join ' IN ' ' || list_aggregate(toks, 'string_agg', ' ') || ' ') > 0
""",
        "filter_phrase_indexed": f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
SELECT doc_id FROM t
WHERE position(' stream table hash ' IN ' ' || list_aggregate(toks, 'string_agg', ' ') || ' ') > 0
""",
        "payload_json_path": """
SELECT event_id, json_extract_string(props, '$.k')::BIGINT AS k FROM events
WHERE json_extract_string(props, '$.k')::BIGINT >= 50
""",
        "text_quality": _text_stats_sql(),
        "token_counts": f"""
SELECT doc_id,
  CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t != '')) AS BIGINT) AS tok_ws,
  CAST(len(regexp_extract_all(text, '\\p{{L}}+'))
     + len(regexp_extract_all(text, '\\p{{N}}+'))
     + len(regexp_extract_all(text, '[^\\p{{L}}\\p{{N}}\\s]')) AS BIGINT) AS tok_bpe
FROM documents
""",
        "lang_detect": _lang_detect_sql(),
        "multimodal_wav": _MM_WAV_SQL,
        "multimodal_ppm": _MM_PPM_SQL,
        "fingerprint": """
SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
FROM documents
""",
        "sparse_knn": _SPARSE_KNN_SQL,
        "sparse_knn_persisted": _SPARSE_KNN_SQL,
        "sparse_knn_planned": _SPARSE_KNN_SQL,
        "sparse_knn_batch": _SPARSE_KNN_BATCH_SQL,
        "sparse_knn_batch_indexed": _SPARSE_KNN_BATCH_SQL,
        "sparse_idf_knn": _SPARSE_IDF_SQL,
        "sparse_idf_corpus": _SPARSE_IDF_CORPUS_SQL,
        "bm25_search": _BM25_SQL,
        "dedup_exact": _EXACT_DEDUP_SQL,
        "dedup_minhash_sig": _minhash_sql(),
        "dedup_lsh_pairs": _lsh_sql(),
        "dedup_lsh_cross": _lsh_cross_sql(),
        "dedup_components": "WITH RECURSIVE " + _components_sql().lstrip().removeprefix("WITH "),
        "dedup_resolve": "WITH RECURSIVE " + _resolve_sql().lstrip().removeprefix("WITH "),
        "paragraph_dedup": _PARAGRAPH_DEDUP_SQL,
        "substring_dup_spans": _SUBSTRING_SPANS_SQL,
        "dedup_ngram_jaccard": _NGRAM_JACCARD_SQL,
        "dedup_simhash": _simhash_sql(),
        "dedup_embedding": _EMB_DUPS_SQL,
        "filter_nested": _FILTER_NESTED_SQL,
        "filter_jsonpath_array": _FILTER_JSONPATH_SQL,
        "filter_prefix": _FILTER_PREFIX_SQL,
        "filter_slice": _FILTER_SLICE_SQL,
        "filter_is_empty": _FILTER_IS_EMPTY_SQL,
        "filter_is_null": _FILTER_IS_NULL_SQL,
        "filter_values_count": _VALUES_COUNT_SQL,
        "query_by_id": _QUERY_BY_ID_SQL,
        "recommend_multi_ids": _RECO_MULTI_SQL,
        "geo_radius": _geo_sql("radius"),
        "geo_bbox_wrap": _geo_sql("bbox"),
        "geo_polygon": _geo_sql("polygon"),
        "formula_rescore": _FORMULA_SQL,
        "query_batch": _QUERY_BATCH_SQL,
        "knn_uint8": _KNN_UINT8_SQL,
        "universal_hybrid": _UNIVERSAL_HYBRID_SQL,
        "universal_groups": _UNIVERSAL_GROUPS_SQL,
        "universal_hybrid_sparse": _UNIVERSAL_HYBRID_SPARSE_SQL,
        "universal_rescore": _UNIVERSAL_RESCORE_SQL,
        "client_query_points": _CLIENT_E2E_SQL,
        "quantized_planned": _QUANT_PLANNED_SQL,
        "quantized_ivf_planned": _QUANT_IVF_PLANNED_SQL,
        "quantized_batch": _QUANT_BATCH_SQL,
        "quantized_batch_kinds": _QUANT_BATCH_KINDS_SQL,
        "sparse_idf_by_id": _SPARSE_IDF_BY_ID_SQL,
        "universal_groups_indexed": _UNIVERSAL_GROUPS_INDEXED_SQL,
        "upsert": _UPSERT_SQL,
        "sync": _SYNC_SQL,
        "upsert_conditional": _UPSERT_COND_SQL,
        "update_vectors": _UPDATE_VECTORS_SQL,
        "delete_by_filter": _DELETE_FILTER_SQL,
        "set_payload": _SET_PAYLOAD_SQL,
        # mmr: the greedy loop is deterministic — one selection per
        # recursion step as a recursive CTE with a LATERAL argmax pick
        "mmr": _MMR_SQL,
        "ann_ivf_full_probe": _knn_sql("cosine"),
        "ann_ivf_batch": _KNN_BATCH_SQL,
        "quantized_sq_rescore": _knn_sql("cosine"),
        "quantized_pq_rescore": _knn_sql("cosine"),
        "ann_ivf_pq_rescore": _knn_sql("cosine"),
        "ann_ivf_pq_incremental": _knn_sql("cosine"),
        "ann_ivf_pq_batch": _KNN_BATCH_SQL,
        "geo_indexed_radius": _geo_sql("radius"),
        "quantized_tq_rescore": _knn_sql("cosine"),
        # corpus-wide oversampling makes the 2-bit BQ rescore exact
        "quantized_bq2_rescore": _knn_sql("cosine"),
        # both formerly rows-only entries are now value-oracled (r7
        # verdict #2): ann_ivf pins its centroids to vec_id 0..7 so the
        # nprobe=2 result is deterministic; quantized_bq_rescore's 1-bit
        # coarse stage is a pure function of the corpus means
        "quantized_bq_rescore": _bq_rescore_sql(),
        "quantized_bq_asym": _bq_asym_sql(),
        "ann_ivf": _ann_ivf_sql(),
    })
