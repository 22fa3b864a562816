"""Grouped search + with_lookup join.

Reference: GroupRequest (lib/collection/src/grouping/group_by.rs:37), driver
loop group_by.rs:263-356; GroupId (lib/segment/src/data_types/groups.rs:8-12);
WithLookup (lib/collection/src/lookup/mod.rs:22-31).

Semantics: score all points (any search op), key each hit by a payload field
(string/int; array-valued -> the point joins EVERY group it has a value
for), keep at most ``group_size`` best hits per group, rank groups by their
best hit, return the top ``groups`` groups. Optionally join each group id to
a record of a lookup collection.

The reference implements this with an iterative re-query loop (fetch,
exclude filled groups, re-fetch...) because it can only pull bounded result
pages through the index. Spark computes the same fixpoint in ONE pass:
per-group row_number caps group_size (window PARTITIONED by group — fully
parallel), then groups are ranked on a per-group AGGREGATE (one narrow row
per group, map-side partial) and the ≤``groups`` winners broadcast-join
back onto the capped hits. No iteration, no driver loop, and — unlike a
naive global dense_rank window — no stage that funnels every candidate
row through a single partition (that plan breaks at high group
cardinality; r8 rework).

A caller that collects the scored top-k anyway (the client's grouped
queries) groups the collected rows with :func:`group_hits` instead, the
way qdrant's coordinator groups merged hits (group_by.rs:263-356) — the
same semantics with no shuffle, as ``knn.collect_topk`` finishes a batch
top-k on the driver.
"""

from __future__ import annotations

from typing import Any, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


def group_by(
    scored: DataFrame,
    group_key: str,
    *,
    groups: int = 10,
    group_size: int = 3,
    larger_better: bool = True,
    id_col: str = "id",
    qid_col: str | None = None,
) -> DataFrame:
    """Group a scored DataFrame (id, score, group_key[, qid]).

    Returns (qid?, group_value, id, score, rank_in_group, group_rank),
    best group first, best hit first within group.
    """
    typ = scored.schema[group_key].dataType
    gv = (
        F.explode(F.array_distinct(F.col(group_key)))
        if isinstance(typ, T.ArrayType)
        else F.col(group_key)
    )
    df = scored.withColumn("group_value", gv).filter(F.col("group_value").isNotNull())
    part = [qid_col] if qid_col else []
    order = [
        F.col("score").desc() if larger_better else F.col("score").asc(),
        F.col(id_col).asc(),
    ]
    w_in = Window.partitionBy(*part, "group_value").orderBy(*order)
    df = df.withColumn("rank_in_group", F.row_number().over(w_in)).filter(
        F.col("rank_in_group") <= group_size
    )
    # Rank groups by their best hit, tie-break by group_value. The rank-1
    # row of each group IS the group's best, so the group ranking runs
    # over one narrow row per group (no extra shuffle: same exchange as
    # w_in) instead of a dense_rank window over the full hit set — a
    # global window has no partition key and would move every candidate
    # row to a single partition, which breaks at high group cardinality.
    heads = df.filter(F.col("rank_in_group") == 1).select(
        *part, "group_value", F.col("score").alias("__best"))
    rank_order = [
        F.col("__best").desc() if larger_better else F.col("__best").asc(),
        F.col("group_value").asc(),
    ]
    if part:
        w_rank = Window.partitionBy(*part).orderBy(*rank_order)
        winners = heads.withColumn("group_rank", F.dense_rank().over(w_rank)) \
            .filter(F.col("group_rank") <= groups)
    else:
        # global case: top-N first (TakeOrderedAndProject — no shuffle-to-one
        # of the full group list), then number the <= `groups` survivors
        top = heads.orderBy(*rank_order).limit(groups)
        winners = top.withColumn(
            "group_rank", F.dense_rank().over(Window.orderBy(*rank_order)))
    out_cols = df.columns
    df = df.join(
        F.broadcast(winners.select(*part, "group_value", "group_rank")),
        part + ["group_value"],
    )
    return df.select(*out_cols, "group_rank")


def group_hits(
    rows: Iterable[dict[str, Any]],
    group_key: str,
    *,
    groups: int = 10,
    group_size: int = 3,
    larger_better: bool = True,
    id_col: str = "id",
) -> list[tuple[Any, list[dict[str, Any]]]]:
    """:func:`group_by` over driver-side hits (dicts holding ``id_col``,
    ``score`` and ``group_key``): ``[(group_value, hits)]``, best group
    first. An array value puts the hit in each of its distinct non-null
    values; a null value puts it in none. Each group keeps its
    ``group_size`` best hits (score direction, then id ascending); groups
    rank by their best hit, then by group value ascending, and the first
    ``groups`` are returned."""
    sign = -1.0 if larger_better else 1.0
    by_value: dict[Any, list[dict[str, Any]]] = {}
    for r in sorted(rows, key=lambda r: (sign * r["score"], r[id_col])):
        v = r[group_key]
        for gv in dict.fromkeys(v) if isinstance(v, (list, tuple)) else (v,):
            if gv is None:
                continue
            hits = by_value.setdefault(gv, [])
            if len(hits) < group_size:
                hits.append(r)
    ranked = sorted(by_value.items(),
                    key=lambda g: (sign * g[1][0]["score"], g[0]))
    return ranked[:groups]


def with_lookup(
    groups_df: DataFrame,
    lookup: DataFrame,
    *,
    lookup_id_col: str = "id",
    group_value_col: str = "group_value",
    select: list[str] | None = None,
) -> DataFrame:
    """Enrich group ids with records from another collection — a broadcast
    equi-join (the lookup side is a dimension table; at 100 TB the scored
    side stays shuffled-in-place)."""
    cols = select or [c for c in lookup.columns]
    right = lookup.select(
        F.col(lookup_id_col).alias("__lk_id"),
        *[F.col(c).alias(f"lookup_{c}") for c in cols if c != lookup_id_col],
    )
    joined = groups_df.join(
        F.broadcast(right),
        groups_df[group_value_col] == right["__lk_id"],
        "left",
    )
    return joined.drop("__lk_id")
