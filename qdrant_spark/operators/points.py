"""Point-level read operators: retrieve, scroll, count, facet, sampling.

Reference semantics:
- retrieve by ids + payload/vector selectors
  (src/actix/api/retrieve_api.rs; SegmentsSearcher::retrieve,
  lib/collection/src/collection_manager/segments_searcher.rs:387).
- scroll: filtered scan with keyset pagination ordered by id, by a payload
  field (with ``start_from``), or random
  (lib/collection/src/collection/point_ops.rs:328;
  ScrollOrder lib/shard/src/query/scroll.rs:36-41;
  order-by stream lib/segment/src/segment/read_view/order_by.rs:52-149).
- count exact (lib/shard/src/count.rs:11-23). Approximate count in the
  reference exists only because exact counting is expensive there; a Spark
  scan-count is already the cheap path, so ``exact=false`` serves exact too.
- facet: top-limit values of a field with counts
  (lib/segment/src/data_types/facets.rs:16-30,
  lib/collection/src/collection/facet.rs:83). Array-valued fields explode —
  a point counts once per distinct value it holds.
- random sampling (ScoringQuery::Sample,
  lib/segment/src/segment/read_view/sampling.rs:79) -> rand(seed) order.

Keyset pagination (not OFFSET) is deliberate: at 100 TB an offset-scan is
O(offset) per page, while ``id > last_seen`` prunes with the parquet
min/max statistics.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qdrant_spark.filters import apply_filter


def retrieve(
    points: DataFrame,
    ids: list,
    *,
    id_col: str = "id",
    with_payload: bool | list[str] | dict = True,
    with_vector: bool | list[str] = False,
    vec_cols: list[str] | None = None,
) -> DataFrame:
    """Fetch records by id with payload/vector projection
    (WithPayloadInterface types.rs:4175, WithVector types.rs:4201).
    ``with_payload`` also accepts the selector dict forms
    ``{"include": [...]}`` / ``{"exclude": [...]}`` (PayloadSelector
    types.rs:4329)."""
    df = points.filter(F.col(id_col).isin(ids))
    vec_cols = vec_cols or [c for c in df.columns if c.startswith("vec")]
    payload_cols = [c for c in df.columns if c != id_col and c not in vec_cols]
    cols = [id_col]
    if isinstance(with_payload, dict):
        if "include" in with_payload:
            with_payload = list(with_payload["include"])
        elif "exclude" in with_payload:
            excl = set(with_payload["exclude"])
            with_payload = [c for c in payload_cols if c not in excl]
        else:
            raise ValueError("payload selector needs 'include' or 'exclude'")
    if with_payload is True:
        cols += payload_cols
    elif isinstance(with_payload, list):
        cols += [c for c in payload_cols if c in with_payload]
    if with_vector is True:
        cols += vec_cols
    elif isinstance(with_vector, list):
        cols += [c for c in vec_cols if c in with_vector]
    return df.select(*cols)


def scroll(
    points: DataFrame,
    *,
    limit: int = 10,
    flt: dict[str, Any] | None = None,
    id_col: str = "id",
    offset_id: Any | None = None,
    order_by: str | None = None,
    direction: str = "asc",
    start_from: Any | None = None,
    random_seed: int | None = None,
) -> DataFrame:
    """Paged scan. Default: id-order keyset pagination (``offset_id`` is the
    first id of the page, inclusive — matching the reference's offset point).
    ``order_by``: order by payload field, ties broken by id; ``start_from``
    value-keyset. ``random_seed``: ScrollOrder::Random."""
    df = apply_filter(points, flt)
    if random_seed is not None:
        return df.orderBy(
            _sample_hash(F.col(id_col), random_seed), F.col(id_col).asc()
        ).limit(limit)
    if order_by is not None:
        c = F.col(order_by)
        # points without a value for the key are skipped entirely
        # (OrderBy reads values from the payload index; a point absent
        # from the index never enters the ordered stream —
        # lib/segment/src/index/field_index/..., REST docs "order_by")
        df = df.filter(c.isNotNull())
        if start_from is not None:
            df = df.filter(c >= start_from if direction == "asc" else c <= start_from)
        order = [c.asc() if direction == "asc" else c.desc(), F.col(id_col).asc()]
        return df.orderBy(*order).limit(limit)
    if offset_id is not None:
        df = df.filter(F.col(id_col) >= offset_id)
    return df.orderBy(F.col(id_col).asc()).limit(limit)


def count(points: DataFrame, flt: dict[str, Any] | None = None) -> int:
    return apply_filter(points, flt).count()


def count_df(points: DataFrame, flt: dict[str, Any] | None = None) -> DataFrame:
    """count as a 1-row DataFrame (for oracle-checkable pipelines)."""
    return apply_filter(points, flt).agg(F.count("*").alias("count"))


def count_estimate(
    points: DataFrame,
    flt: dict[str, Any] | None = None,
    *,
    total: int | None = None,
    max_sample: int = 10_000,
    seed: int = 42,
    fraction: float | None = None,
    id_col: str | None = None,
) -> tuple[int, int]:
    """``count(exact=false)`` — the reference estimates from index metadata
    / sampling instead of scanning (CountRequest ``exact``,
    lib/segment/src/index/sample_estimation.rs). Returns ``(estimate,
    +-interval)`` from one seeded-sample job scored with the Agresti-Coull
    interval (z=2): the corpus pass touches ~``max_sample`` rows whatever
    the corpus size, vs the full filtered scan of :func:`count`.
    ``total`` skips the corpus-count job when the caller already knows it
    (cached table, catalog stats). ``fraction`` pins the sample fraction
    explicitly (otherwise ~``max_sample``/total).

    The sample is a deterministic md5-Bernoulli on the id (the same
    sampler facet_estimate uses): uniform across partitions, NO limit cap
    that would bias toward first-scanned files when the filtered field
    correlates with layout, identical run-to-run, and reproducible in any
    engine with md5 — so the estimate itself is exact-oracle-checkable."""
    from qdrant_spark.filters import filter_column
    from qdrant_spark.operators.curation import fraction_threshold
    from qdrant_spark.operators.dispatch import agresti_coull_interval

    if total is None:
        total = points.count()
    if total == 0:
        return 0, 0
    if flt is None:
        return total, 0
    if id_col is None:  # auto-detect the table's id column
        names = points.schema.fieldNames()
        id_col = ("id" if "id" in names
                  else next((n for n in names if n.endswith("_id")),
                            names[0]))
    frac = (min(1.0, 1.2 * max_sample / total) if fraction is None
            else float(fraction))
    if frac >= 1.0:
        sample = points
    else:
        h = F.substring(
            F.md5(F.concat_ws(":", F.col(id_col).cast("string"),
                              F.lit(f"count{seed}"))), 1, 8)
        sample = points.filter(h < F.lit(fraction_threshold(frac)))
    cond = filter_column(points, dict(flt))
    row = sample.agg(
        F.count(F.lit(1)).alias("trials"),
        F.count(F.when(cond, F.lit(1))).alias("positive"),
    ).collect()[0]
    trials, positive = int(row["trials"]), int(row["positive"])
    if trials == 0:
        return 0, 0
    if trials >= total:  # the sample WAS the corpus — exact
        return positive, 0
    return agresti_coull_interval(trials, positive, total)



def _key_dtype(schema, key: str):
    """Data type at a (possibly dotted) payload path, or None — facet /
    unique_values accept nested struct paths like the reference's
    JsonPath facet keys."""
    dt = schema
    for seg in key.split("."):
        if isinstance(dt, T.StructType) and seg in dt.names:
            dt = dt[seg].dataType
        else:
            return None
    return dt

def facet(
    points: DataFrame,
    key: str,
    *,
    limit: int = 10,
    flt: dict[str, Any] | None = None,
) -> DataFrame:
    """Top-``limit`` values with counts, count desc then value asc
    (FacetParams facets.rs:16-30). Array fields: each distinct value of a
    point counts once."""
    df = apply_filter(points, flt)
    typ = _key_dtype(df.schema, key)
    val = F.explode(F.array_distinct(F.col(key))) if isinstance(typ, T.ArrayType) else F.col(key)
    return (
        df.select(val.alias("value"))
        .filter(F.col("value").isNotNull())
        .groupBy("value")
        .agg(F.count("*").alias("count"))
        .orderBy(F.col("count").desc(), F.col("value").asc())
        .limit(limit)
    )


def facet_estimate(
    points: DataFrame,
    key: str,
    *,
    limit: int = 10,
    flt: dict[str, Any] | None = None,
    fraction: float = 0.25,
    seed: int = 42,
    id_col: str = "id",
) -> DataFrame:
    """``facet(exact=false)`` — approximate facet counts from a bounded
    sample, the batch analogue of the reference's approximate facet path
    (``LocalShard::approx_facet`` merges cheap per-segment maps instead of
    deduplicating exactly, facet.rs:24-95; FacetParams.exact facets.rs:24).

    At 100 TB the exact facet shuffles every (value) row; this reads
    ~``fraction`` of the corpus (map-only deterministic md5-Bernoulli on
    the id — uniform across partitions, NO limit cap that would bias
    toward first-scanned files) and scales counts by 1/fraction. Returns
    (value, est_count) ordered est desc, value asc. Deterministic given
    (seed, fraction) and reproducible in any engine with md5 — exact
    oracle-checkable despite being an estimate."""
    from qdrant_spark.operators.curation import fraction_threshold

    if not 0.0 < fraction <= 1.0:
        raise ValueError("fraction must be in (0, 1]")
    df = apply_filter(points, flt)
    thr = fraction_threshold(fraction)
    h = F.substring(
        F.md5(F.concat_ws(":", F.col(id_col).cast("string"),
                          F.lit(f"facet{seed}"))), 1, 8)
    sample = df.filter(h < F.lit(thr))
    typ = _key_dtype(sample.schema, key)
    val = (F.explode(F.array_distinct(F.col(key)))
           if isinstance(typ, T.ArrayType) else F.col(key))
    return (
        sample.select(val.alias("value"))
        .filter(F.col("value").isNotNull())
        .groupBy("value")
        .agg(F.round(F.count("*") / F.lit(fraction)).cast("long")
             .alias("est_count"))
        .orderBy(F.col("est_count").desc(), F.col("value").asc())
        .limit(limit)
    )


def unique_values(
    points: DataFrame, key: str, *, flt: dict[str, Any] | None = None
) -> DataFrame:
    df = apply_filter(points, flt)
    typ = _key_dtype(df.schema, key)
    val = F.explode(F.col(key)) if isinstance(typ, T.ArrayType) else F.col(key)
    return df.select(val.alias("value")).filter(F.col("value").isNotNull()).distinct()


def _sample_hash(id_col: Column, seed: int) -> Column:
    """md5(seed ':' id) — the random-order key. Hash-ordering instead of
    ``rand()`` keeps the draw uniform while making it (a) reproducible in
    any engine with md5 (the DuckDB oracle sorts the same strings) and
    (b) a ``TakeOrderedAndProject`` map-side top-n instead of a seeded-rand
    total sort — no shuffle of the corpus at scale."""
    return F.md5(F.concat_ws(":", F.lit(str(seed)), id_col.cast("string")))


def sample(
    points: DataFrame,
    n: int,
    *,
    flt: dict[str, Any] | None = None,
    seed: int = 42,
    id_col: str | None = None,
) -> DataFrame:
    """Uniform random sample of n points (deterministic under the seed,
    reproducible cross-engine — see :func:`_sample_hash`). ``id_col``
    defaults to the first column."""
    df = apply_filter(points, flt)
    key = id_col or df.columns[0]
    return df.orderBy(_sample_hash(F.col(key), seed), F.col(key).asc()).limit(n)

