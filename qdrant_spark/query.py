"""Universal Query API: prefetch-tree planner -> DataFrame pipeline.

Reference: the flagship ``POST /collections/{c}/points/query`` path —
``CollectionQueryRequest`` (lib/collection/src/operations/universal_query/
collection_query.rs:34-106), ``ShardPrefetch`` (lib/shard/src/query/
mod.rs:75-108), and ``PlannedQuery`` (lib/shard/src/query/planned_query.rs:
17-112): an arbitrary-depth tree where each node is (filter, query, limit);
leaves run search/scroll, parents re-score or merge their children.
Max depth 64 (planned_query.rs).

Spark mapping: every node compiles to a DataFrame of (id, score) — leaves
are KNN/sparse/scroll plans, parents compose child DataFrames (fusion
windows, rescore joins, MMR). The reference's shard-level vs
collection-level rescore distinction (RescoreStages) disappears: a Spark
window over the union IS the global merge, and rank-dependent fusion is
computed after each child's global top-k, which is exactly the semantics
the reference engineers for.

Request shape (qdrant JSON, dict form):

    {
      "prefetch": [ {<nested request>}, ... ],      # optional children
      "query": {"nearest": [..]}                    # dense KNN
               | {"nearest": {"indices": [...], "values": [...]}}  # sparse
               | {"recommend": {"positive": [...], "negative": [...],
                                "strategy": "average_vector" | "best_score"
                                          | "sum_scores"}}
               | {"discover": {"target": [...], "context": [...]}}
               | {"context": [...]}
               | {"fusion": "rrf" | "dbsf"}
               | {"formula": <formula AST>}
               | {"mmr": {"diversity": d, "candidates_limit": n}}
               | {"order_by": {"key": k, "direction": "asc"|"desc"}}
               | {"sample": "random"}
      "using": "<vector column>",                   # default "vec"
      "filter": {<filter DSL>},
      "limit": n, "offset": n, "score_threshold": t
    }
"""

from __future__ import annotations

from typing import Any, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_LIMIT = 10  # collection_query.rs:51
MAX_DEPTH = 64

#: Corpus-size cutoff (Catalyst plan stats) below which sibling-leg fusion
#: is NOT worth it: the fused path adds ~2 fixed job round-trips (batched
#: leaf job + local-relation fusion job), which only pay off once one
#: SAVED corpus scan costs more than that. Measured on local[32]: a 2k-row
#: cached corpus is ~1.3s WORSE fused (fixed overhead, nothing saved); a
#: 512k-row parquet corpus saves a full ~1s scan per extra leg. NOTE the
#: stat is COMPRESSED scan bytes for file sources (parquet compresses
#: float vectors 2-6x), so the cutoff sits well below the raw-bytes
#: crossover. Same dispatch pattern as knn.ARROW_DISPATCH_BYTES.
FUSE_MIN_BYTES = 32 << 20

#: Hit-count ceiling for the driver-side fused-leg collect: above
#: legs * max(offset+limit) > this, leg splitting falls back to DataFrame
#: windows over the (persisted) shared-scan result — the scan still runs
#: once, but nothing funnels through the driver (r5 VERDICT item 5).
FUSED_COLLECT_MAX = 100_000


def merge_filters(a: dict | None, b: dict | None) -> dict | None:
    """``Filter::merge`` — AND of two filter objects. A Filter is itself a
    valid Condition (Condition::Filter, types.rs:3981), so the merge is one
    must-list of the two."""
    if not a:
        return b or None
    if not b:
        return a
    return {"must": [a, b]}


class QueryPlanner:
    """Compiles a universal-query request against a points DataFrame.

    ``collections`` is an optional name -> DataFrame registry so
    ``lookup_from`` can reference another collection by name
    (LookupLocation {collection, vector}, collection_query.rs:147-152)."""

    def __init__(self, points: DataFrame, *, id_col: str = "id",
                 default_vec_col: str = "vec", metric: str = "cosine",
                 collections: dict[str, DataFrame] | None = None,
                 ivf_index=None, index_stats=None,
                 full_scan_threshold: int | None = None,
                 cluster_stats=None,
                 fuse_min_bytes: int | None = None,
                 fused_collect_max: int | None = None,
                 driver_lazy_fusion: bool = True,
                 text_params: dict[str, dict[str, Any]] | None = None,
                 metrics: dict[str, str] | None = None,
                 sparse_indexes: dict[str, Any] | None = None,
                 ivf_indexes: dict[str, Any] | None = None,
                 quant_indexes: dict[str, Any] | None = None,
                 maxsim_indexes: dict[str, Any] | None = None,
                 quant_ivf_indexes: dict[str, Any] | None = None,
                 maxsim_sq_indexes: dict[str, Any] | None = None):
        self.points = points
        self.id_col = id_col
        self.default_vec_col = default_vec_col
        self.metric = metric
        # per-vector-column distance overrides (vec column name -> metric):
        # a leaf's score direction follows ITS `using` vector's declared
        # distance, not the collection default (the reference resolves
        # distance per named vector, segment VectorDataConfig.distance) —
        # without this a prefetch/batch leg on a Euclid named vector would
        # silently rank by the default metric's direction
        self.metrics = metrics or {}
        # persisted sparse inverted indexes (vec column name ->
        # SparseIndex): a sparse `nearest` leaf on a column with a
        # registered index routes through its dim-bucketed search instead
        # of re-exploding the corpus's sparse columns per query — the
        # reference ALWAYS searches sparse through its inverted index
        # (lib/sparse/src/index/search_context.rs:37-91). BM25 text
        # search has no universal-query leaf (qdrant models it as
        # client-side sparse vectors), so Bm25Index stays operator-level
        # (sparse.bm25_search_index).
        self.sparse_indexes = sparse_indexes or {}
        self.collections = collections or {}
        self._self_refs: set = set()
        # per-field TextIndexParams honored by full-text filter conditions
        # (the declared-text-index analogue; see filters.filter_column).
        # Leaves with a filter pre-apply it against the corpus so the
        # params reach the tokenizer; such leaves skip ANN dispatch and
        # shared-scan fusion (both key on the raw filter dict).
        self.text_params = text_params or {}
        self._vec_cache: dict[tuple, list] = {}
        # optional ANN acceleration: when an IvfIndex is registered, dense
        # `nearest` leaves route through the selectivity-aware dispatcher
        # (operators/dispatch.auto_search — the reference runs EVERY search
        # through its query_estimator the same way). index_stats is the
        # dispatch.stats_from_index mapping; full_scan_threshold overrides
        # the plain-vs-index crossover.
        if ivf_index is not None and ivf_index.id_col != id_col:
            raise ValueError("ivf_index.id_col must match the planner id_col")
        self.ivf_index = ivf_index
        # additional per-vector-column IVF indexes (named vectors); the
        # primary `ivf_index` keeps its index_stats/cluster_stats tuning,
        # the dict entries dispatch with defaults
        self.ivf_indexes = ivf_indexes or {}
        for vc, ix in self.ivf_indexes.items():
            if ix.id_col != id_col:
                raise ValueError(
                    f"ivf_indexes[{vc!r}].id_col must match the planner "
                    f"id_col")
        # declared quantization (vec column name -> quantize.QuantHandle):
        # dense `nearest` leaves on a column with a registered quantized
        # index run the two-stage coarse+rescore plan — the reference
        # searches through quantized storage transparently once a
        # collection declares quantization_config (quantized_vectors.rs),
        # per-request tunable via SearchParams.quantization {ignore,
        # rescore, oversampling} (types.rs:573-628). A registered IVF
        # index for the same column wins (cluster pruning subsumes the
        # coarse scan; the combined form is operators/ann.py IVF-PQ).
        self.quant_indexes = quant_indexes or {}
        for vc, qh in self.quant_indexes.items():
            if qh.id_col != id_col:
                raise ValueError(
                    f"quant_indexes[{vc!r}].id_col must match the planner "
                    f"id_col")
        # multivector coarse indexes (vec column name ->
        # multivec.MaxSimRoute): MaxSim leaves on a registered column run
        # the token-level-IVF pruned plan instead of the full Arrow scan
        # — the reference builds HNSW over multivector storage for the
        # same purpose (multivector_hnsw_test.rs). Filtered / params.exact
        # leaves keep the exact scan.
        self.maxsim_indexes = maxsim_indexes or {}
        for vc, rt in self.maxsim_indexes.items():
            if rt.id_col != id_col:
                raise ValueError(
                    f"maxsim_indexes[{vc!r}].id_col must match the planner "
                    f"id_col")
        # composed quantization x IVF handles (vec column name ->
        # quantize.QuantIvfHandle): persisted cluster-partitioned codes
        # (plans/maintenance.ensure_quant_ivf_index). When a column has
        # BOTH an IVF and a quant registration but no composed entry,
        # the planner composes lazily on first use (one cached join) —
        # either way dense `nearest` runs probe-clusters -> score-codes
        # -> exact-rescore, the reference's quantized-HNSW shape.
        self.quant_ivf_indexes = quant_ivf_indexes or {}
        # quantized multivector storage (vec column name ->
        # multivec.MaxSimSq): MaxSim leaves run coarse-over-int8-codes +
        # exact rescore (quantized_vectors.rs treats multivectors like
        # any other kind); per-request SearchParams.quantization applies.
        self.maxsim_sq_indexes = maxsim_sq_indexes or {}
        self.index_stats = index_stats or {}
        # optional dispatch.ClusterFieldStats: per-cluster filter
        # histograms for the ACORN-analogue filtered probe selection
        self.cluster_stats = cluster_stats
        self.full_scan_threshold = full_scan_threshold
        self._index_totals: dict[str, int] = {}
        #: diagnostics from the last plan(): how many sibling prefetch
        #: groups were fused into a single shared scan (see _plan_children)
        self.last_plan_info: dict[str, int] = {"fused_groups": 0,
                                               "fused_legs": 0,
                                               "driver_fused_root": 0}
        #: root result-order contract of the last plan() (see _node)
        self.last_plan_direction: bool | None = None
        #: opt-in: when True, roots whose order exists only in the plan
        #: (MMR pick order, sample hash order) attach an explicit
        #: ``__rank`` column so callers can join/hydrate in ONE job and
        #: restore the order driver-side; ``last_plan_rank_col`` names it
        self.emit_rank = False
        self.last_plan_rank_col: str | None = None
        self.fuse_min_bytes = (FUSE_MIN_BYTES if fuse_min_bytes is None
                               else fuse_min_bytes)
        self.fused_collect_max = (FUSED_COLLECT_MAX if fused_collect_max
                                  is None else fused_collect_max)
        self._fuse_ok: bool | None = None
        #: id(leg DataFrame) -> its collected hits [(id, score)] best-first,
        #: recorded by _fused_leaves so a fusion root over all-fused legs
        #: can fuse DRIVER-SIDE (rrf_hits/dbsf_hits) instead of spending
        #: ~1s of Spark job overhead on <=legs*limit local rows
        self._fused_hits_by_df: dict[int, list] = {}
        #: r14: a fusion root over LAZY (un-fused) legs also fuses
        #: driver-side — every leg is a bounded top-k frame (each leaf /
        #: nested rescore carries its request limit), so the root's
        #: union + per-leg rank windows + groupBy-sum Spark plan spends
        #: 3-4 AQE stage waves on <= legs*limit rows. Instead the legs
        #: collect as overlapped jobs (guide §2.6) and rrf_hits /
        #: dbsf_hits re-rank with the operators' exact ordering
        #: (score desc, id asc). False restores the Spark-side fusion.
        self.driver_lazy_fusion = driver_lazy_fusion
        #: shared-scan results persisted by the DataFrame fallback; freed
        #: at the next plan() so the leak is bounded to one request
        self._fused_persisted: list[DataFrame] = []

    # -- public ------------------------------------------------------------

    def _ivf_for(self, vec_col: str):
        """The IVF index covering a vector COLUMN: the primary
        ``ivf_index`` when its vec_col matches, else the ``ivf_indexes``
        registry entry."""
        if self.ivf_index is not None and vec_col == self.ivf_index.vec_col:
            return self.ivf_index
        return self.ivf_indexes.get(vec_col)

    def _quant_ivf_for(self, vec_col: str, qh, ivf):
        """The composed quant x IVF handle for a column: the registered
        entry when one was ensured/persisted, else a lazily composed (and
        cached) join of the two registrations — so planner users who
        registered both indexes separately still get both prunings."""
        qih = self.quant_ivf_indexes.get(vec_col)
        if qih is None:
            from qdrant_spark.operators.quantize import compose_quant_ivf

            qih = compose_quant_ivf(qh, ivf)
            self.quant_ivf_indexes[vec_col] = qih
        return qih

    def metric_for(self, vec_col: str | None) -> str:
        """Distance for a given vector COLUMN (not qdrant vector name):
        the per-column override when declared, else the planner default."""
        if vec_col is None:
            return self.metric
        return self.metrics.get(vec_col, self.metric)

    def close(self) -> None:
        """Release any shared-scan DataFrames persisted by the fused
        DataFrame fallback. plan() frees the previous request's persists
        automatically, but that only bounds the leak for LONG-LIVED
        planners — a planner used once would otherwise leave its cached
        blocks resident for the application lifetime (r6 ADVICE). Call
        after the returned DataFrames have materialized; calling earlier
        is safe but re-runs the shared scan per leg on materialization."""
        for df in self._fused_persisted:
            df.unpersist()
        self._fused_persisted = []

    unpersist_all = close

    def plan(self, request: dict[str, Any]) -> DataFrame:
        """Returns (id, score) best-first, limited."""
        self._vec_cache = self._batch_resolve_ids(request)
        # Exclude all same-collection referenced point ids (root and
        # nested) by merging a must_not/has_id into the ROOT filter —
        # exactly exclude_referenced_ids (collection_query.rs:523,705).
        # Ids resolved via lookup_from are NOT excluded (the reference
        # keeps other-collection ids in, collection_query.rs:550-553); the
        # root filter then propagates into every prefetch (see _node /
        # recurse_prefetches planned_query.rs:310-340), so the exclusion
        # reaches every leaf.
        if self._self_refs:
            request = dict(request)
            request["filter"] = merge_filters(
                {"must_not": [{"has_id": sorted(self._self_refs, key=str)}]},
                request.get("filter"))
        self._fused_hits_by_df = {}
        for df in self._fused_persisted:
            df.unpersist()
        self._fused_persisted = []
        # reset ONCE per plan; _plan_children accumulates (+=) so the
        # diagnostics cover every prefetch level of a nested tree, not
        # just the innermost one (r5 ADVICE)
        self.last_plan_info = {"fused_groups": 0, "fused_legs": 0,
                               "driver_fused_root": 0}
        self.last_plan_rank_col = None
        return self._node(request, depth=0)

    def plan_groups(
        self,
        request: dict[str, Any],
        *,
        group_by_field: str,
        groups: int = 10,
        group_size: int = 3,
        oversample: int = 4,
        lookup: DataFrame | str | None = None,
        lookup_cols: list[str] | None = None,
        larger_better: bool | None = None,
    ) -> DataFrame:
        """``/points/query/groups`` (lib/collection/src/grouping/group_by.rs):
        run the universal query with the candidate limit inflated to
        ``groups * group_size * oversample``, join the group field back,
        and apply the one-pass two-window grouping. The reference refills
        underfilled groups with follow-up searches; the Spark shape is one
        oversampled pass (documented deviation — raise ``oversample`` for
        pathological group skew). ``lookup`` attaches payload columns from
        another collection keyed by group value (WithLookup). Score
        direction defaults to the planner metric; override
        ``larger_better`` for ``order_by`` roots."""
        from qdrant_spark.operators.groupby import group_by as _group_by
        from qdrant_spark.operators.groupby import with_lookup as _with_lookup
        from qdrant_spark.operators.knn import larger_is_better

        req = dict(request)
        req["limit"] = max(int(req.get("limit", 0) or 0),
                           groups * group_size * oversample)
        scored = self.plan(req)
        if larger_better is not None:
            lb = larger_better
        elif self.last_plan_direction is not None:
            # the root's actual score direction (per-`using` metric aware)
            lb = self.last_plan_direction
        else:
            lb = larger_is_better(
                self.metric_for(req.get("using", self.default_vec_col)))
        enriched = scored.join(
            self.points.select(self.id_col, group_by_field),
            self.id_col, "left",
        )
        out = _group_by(enriched, group_by_field, groups=groups,
                        group_size=group_size, larger_better=lb,
                        id_col=self.id_col)
        if lookup is not None:
            if isinstance(lookup, str):
                lookup = self.collections[lookup]
            out = _with_lookup(out, lookup, select=lookup_cols)
        return out

    # -- internals ----------------------------------------------------------

    def _node(self, req: dict[str, Any], depth: int) -> DataFrame:
        if depth > MAX_DEPTH:
            raise ValueError("prefetch tree deeper than 64")
        children = req.get("prefetch") or []
        if isinstance(children, dict):
            children = [children]
        limit = int(req.get("limit", DEFAULT_LIMIT))
        query = req.get("query")
        if children:
            if req.get("filter"):
                # a node's filter propagates into ALL its prefetches,
                # merged with each child's own filter (recurse_prefetches
                # planned_query.rs:310-340: Filter::merge_opts(propagate,
                # own)); recursion composes it down the tree
                children = [
                    dict(c, filter=merge_filters(req["filter"],
                                                 c.get("filter")))
                    for c in children
                ]
            child_dfs = self._plan_children(children, depth)
            out = self._rescore(query, child_dfs, req, limit, depth=depth)
            # record the root's result-order contract AFTER the recursion
            # (plan() is depth-first: the last assignment is the root's).
            # True/False = result is sortable by (score direction, id
            # asc); None = the order exists only in the plan (MMR pick
            # order, sample hash order, order_by key ordering).
            self.last_plan_direction = self._direction_of(
                query, leaf=False,
                vec_col=req.get("using", self.default_vec_col))
            return out
        out = self._leaf(query, req, limit, depth=depth)
        self.last_plan_direction = self._direction_of(
            query, leaf=True, vec_col=req.get("using", self.default_vec_col))
        return out

    def _direction_of(self, query: Any, *, leaf: bool,
                      vec_col: str | None = None) -> bool | None:
        """Whether the node's output order equals sort-by-(score, id):
        True = score desc, False = score asc, None = not score-ordered.
        Must mirror the ordering each _leaf/_rescore path actually emits
        (knn/_topk: metric direction; sparse dot, MaxSim, discover/
        context, fusion, formula, best_score/sum_scores: score desc)."""
        from qdrant_spark.operators.knn import larger_is_better

        if query is None:
            # scroll leaf: id asc with score pinned 0.0 — all-ties, so a
            # (score, id asc) sort reproduces it | parent default = rrf
            return False if leaf else True
        metric = self.metric_for(vec_col)
        if "nearest" in query:
            t = query["nearest"]
            if isinstance(t, dict) and "indices" in t:
                return True  # sparse dot product
            if isinstance(t, (list, tuple)) and t \
                    and isinstance(t[0], (list, tuple)):
                return True  # MaxSim
            return larger_is_better(metric)
        if "recommend" in query:
            strat = query["recommend"].get("strategy", "average_vector")
            return (larger_is_better(metric)
                    if strat == "average_vector" else True)
        if any(k in query for k in ("discover", "context", "fusion",
                                    "formula")):
            return True
        if "order_by" in query:
            # both the leaf and the rescore root emit score = the key
            # cast to double (value-less points skipped) with ties broken
            # id asc: the plan order IS (score direction, id asc)
            ob = query["order_by"]
            return (ob.get("direction", "asc") if isinstance(ob, dict)
                    else "asc") == "desc"
        return None  # mmr / sample: order exists only in the plan

    # -- shared-scan prefetch fusion ----------------------------------------
    #
    # Sibling prefetch leaves that share (source, filter, vector column)
    # would each run a full corpus scan; the reference batches exactly
    # these into one leaf-search pass (PlannedQuery merges prefetches into
    # a single batch, lib/shard/src/query/planned_query.rs:17-60). The
    # Spark analogue: ONE knn_batch over the shared filtered scan with one
    # query row per leg (block-matmul: every leg scored against each Arrow
    # batch in one BLAS call), then the tiny per-leg top-k result set
    # (<= legs * (limit+offset) rows) is split into per-child frames.
    # The split materializes the batch result (a bounded collect, same
    # class as _batch_resolve_ids) so the fused scan runs exactly once.

    @staticmethod
    def _leaf_exact(req: dict[str, Any]) -> bool:
        """params.exact / request-level exact: per-request opt-out of ANN
        routing (the reference honors SearchParams::exact, types.rs)."""
        return bool((req.get("params") or {}).get("exact")
                    or req.get("exact"))

    def _quant_crossover_ok(self, vec_col: str, *,
                            batch: bool = False) -> bool:
        """Exact-vs-quantized corpus-size dispatch for the dense quant
        routes, mirroring the MaxSim guard: the coarse+rescore plan reads
        4-32x fewer bytes but pays a second candidate-float scan, which
        only wins past the page-cache scale. Below the threshold the
        planner takes the exact scan — a declared threshold of 0 pins
        the quantized route. ``batch=True`` (fused multi-request
        contexts: query_batch groups and prefetch sibling fusion) uses
        the HIGHER batch default — the fused exact matmul amortizes one
        scan across every request, so the quant batch's crossover sits
        far beyond the single leaf's (r12 measurements in quantize.py).
        n_docs caches on the handle, a metadata-only parquet count."""
        from qdrant_spark.operators.quantize import (
            QUANT_BATCH_FULL_SCAN_THRESHOLD, QUANT_FULL_SCAN_THRESHOLD,
        )

        qh = self.quant_indexes.get(vec_col)
        qih = self.quant_ivf_indexes.get(vec_col)
        if qh is None and qih is not None:
            qh = qih.handle
        if qh is None:
            return False
        thr = qh.full_scan_threshold
        if thr is None:
            thr = (QUANT_BATCH_FULL_SCAN_THRESHOLD if batch
                   else QUANT_FULL_SCAN_THRESHOLD)
        if not thr:
            return True
        if qh.n_docs is None:
            qh.n_docs = qh.codes_frame().count()
        return qh.n_docs >= thr

    def _fusable_leaf(self, req: dict[str, Any]) -> tuple | None:
        """Group key when this child is a dense-nearest leaf eligible for
        the shared-scan batch, else None. Leaves that would route through
        the ANN dispatcher keep their own plan (fusing them would silently
        upgrade approximate legs to exact ones)."""
        if req.get("prefetch"):
            return None
        if req.get("shard_key") is not None:
            return None  # shard-routed request: scans its own partitions
        if self.text_params and req.get("filter"):
            return None  # leaf pre-applies the filter with text_params
        query = req.get("query")
        if not isinstance(query, dict) or "nearest" not in query:
            return None
        target = query["nearest"]
        if isinstance(target, dict) and ("indices" in target  # sparse
                                         or "id" in target):  # id target:
            # plan() handles its referenced-id exclusion; keep it unfused
            return None
        if isinstance(target, (list, tuple)) and target \
                and isinstance(target[0], (list, tuple)):
            return None  # multivector MaxSim leg: own Arrow scan
        vec_col = req.get("using", self.default_vec_col)
        if self._ivf_for(vec_col) is not None and not self._leaf_exact(req):
            return None
        qp = (req.get("params") or {}).get("quantization") or {}
        if (self.quant_indexes.get(vec_col) is not None
                or self.quant_ivf_indexes.get(vec_col) is not None) \
                and not qp.get("ignore") and not self._leaf_exact(req) \
                and self._quant_crossover_ok(vec_col, batch=True):
            # quant-routed leaf (plain or composed): fusing would bypass
            # the declared coarse+rescore plan (and change VALUES for
            # rescore=false requests, which return coarse scores). Below
            # the corpus-size crossover the quant route stands down
            # everywhere (single-leaf too), so the leaf IS fusable into
            # the exact shared matmul — the r11-verdict batch fix.
            return None
        import json

        flt_key = json.dumps(req.get("filter"), sort_keys=True, default=str)
        return (vec_col, flt_key)

    def _fusion_worthwhile(self) -> bool:
        """Size-dispatch: fusing only pays once one saved corpus scan
        outweighs the fused path's fixed job overhead (FUSE_MIN_BYTES)."""
        if self._fuse_ok is None:
            from qdrant_spark.operators.knn import _plan_size_bytes

            self._fuse_ok = _plan_size_bytes(self.points) >= self.fuse_min_bytes
        return self._fuse_ok

    def _plan_children(self, children: list[dict], depth: int) -> list[DataFrame]:
        groups: dict[tuple, list[int]] = {}
        if self._fusion_worthwhile():
            for i, c in enumerate(children):
                key = self._fusable_leaf(c)
                if key is not None:
                    groups.setdefault(key, []).append(i)
        out: list[DataFrame | None] = [None] * len(children)
        fused_groups = fused_legs = 0
        for key, idxs in groups.items():
            if len(idxs) < 2:
                continue
            legs = self._fused_leaves([children[i] for i in idxs], key[0])
            for i, df in zip(idxs, legs):
                out[i] = df
            fused_groups += 1
            fused_legs += len(idxs)
        self.last_plan_info["fused_groups"] += fused_groups
        self.last_plan_info["fused_legs"] += fused_legs
        for i, c in enumerate(children):
            if out[i] is None:
                out[i] = self._node(c, depth + 1)
        return out

    def _fused_leaves(self, reqs: list[dict], vec_col: str,
                      as_rows: bool = False) -> list:
        from pyspark.sql import types as T

        from qdrant_spark.filters import apply_filter
        from qdrant_spark.functions.distances import larger_is_better
        from qdrant_spark.operators.knn import knn_batch

        spark = self.points.sparkSession
        flt = reqs[0].get("filter")
        metric = self.metric_for(vec_col)
        targets, needed, thresholds = [], [], []
        for r in reqs:
            t = self._resolve_vector_input(r["query"]["nearest"], r)
            targets.append([float(x) for x in t])
            limit = int(r.get("limit", DEFAULT_LIMIT))
            needed.append(int(r.get("offset", 0)) + limit)
            thresholds.append(r.get("score_threshold"))
        # strategy resolved driver-side from plan stats (len(targets) is
        # known here) — saves the queries.count() job of strategy='auto'
        from qdrant_spark.operators.knn import (
            ARROW_DISPATCH_BYTES, _matmul_knn, _plan_size_bytes,
        )

        src = apply_filter(self.points, flt)
        strategy = ("matmul" if _plan_size_bytes(src) * len(targets)
                    >= ARROW_DISPATCH_BYTES else "window")
        if strategy == "matmul":
            # the query set is already driver-side: hand it straight to
            # the block-matmul scorer (q_data) instead of packing it into
            # a local DataFrame the scorer would immediately collect back
            # — saves a createDataFrame + one collect job per plan
            import numpy as np

            res = _matmul_knn(
                src, None, metric=metric, k=max(needed),
                vec_col=vec_col, id_col=self.id_col, qid_col="qid",
                qvec_col="qvec", score_threshold=None,
                q_data=(list(range(len(targets))),
                        np.asarray(targets, dtype=np.float64)),
            ).select("qid", self.id_col, "score")
        else:
            from qdrant_spark.session import local_df

            qdf = local_df(
                spark,
                [(i, t) for i, t in enumerate(targets)],
                "qid: long, qvec: array<double>",
            )
            res = knn_batch(
                src, qdf, metric=metric,
                k=max(needed), vec_col=vec_col, id_col=self.id_col,
                strategy=strategy,
            ).select("qid", self.id_col, "score")
        lb = larger_is_better(metric)
        if len(reqs) * max(needed) > self.fused_collect_max:
            # Unconditional guard (strict mode or not): a 64-leg x 10^6
            # limit request must not funnel through the driver. Keep the
            # shared scan (res is already per-leg top-k, <= legs *
            # max(needed) rows), persist it so the leg split doesn't
            # re-run the scan, and slice legs with DataFrame windows; the
            # fusion root then also stays a DataFrame op (these legs are
            # deliberately NOT registered in _fused_hits_by_df).
            from pyspark.sql import Window

            self.last_plan_info["fused_df_fallback"] = \
                self.last_plan_info.get("fused_df_fallback", 0) + 1
            res = res.persist()
            self._fused_persisted.append(res)
            order = ((F.col("score").desc() if lb else F.col("score").asc()),
                     F.col(self.id_col).asc())
            w = Window.partitionBy("qid").orderBy(*order)
            out = []
            for i, r in enumerate(reqs):
                leg = res.where(F.col("qid") == i)
                th = thresholds[i]
                if th is not None:  # threshold BEFORE offset, as below
                    leg = leg.where(F.col("score") > th if lb
                                    else F.col("score") < th)
                off = int(r.get("offset", 0))
                limit = int(r.get("limit", DEFAULT_LIMIT))
                leg = (leg.withColumn("__rnk", F.row_number().over(w))
                       .where((F.col("__rnk") > off)
                              & (F.col("__rnk") <= off + limit))
                       .select(self.id_col, "score"))
                out.append(leg)
            return out
        rows = res.collect()  # bounded: <= legs * max(offset+limit)
        id_type = self.points.schema[self.id_col].dataType
        schema = T.StructType([
            T.StructField(self.id_col, id_type),
            T.StructField("score", T.DoubleType()),
        ])
        out = []
        for i, r in enumerate(reqs):
            hits = sorted(
                ((row[self.id_col], float(row["score"]))
                 for row in rows if row["qid"] == i),
                key=lambda h: ((-h[1] if lb else h[1]), h[0]),
            )
            # threshold post-top-k is exact: every row outside the top-k
            # scores strictly worse, so a failing top row implies all
            # lower rows fail too (direction-aware)
            th = thresholds[i]
            if th is not None:
                hits = [h for h in hits
                        if (h[1] > th if lb else h[1] < th)]
            off = int(r.get("offset", 0))
            limit = int(r.get("limit", DEFAULT_LIMIT))
            kept = hits[off:off + limit]
            if as_rows:
                # query_batch collapses all-local legs into ONE frame —
                # skip the per-leg createDataFrame roundtrip entirely
                out.append(_RowsLeg(schema, kept))
                continue
            df = _local_result_df(spark, kept, schema)
            if lb:
                # only larger-is-better legs register for the driver-side
                # fusion fast path: rrf_hits/dbsf_hits rank score-desc
                self._fused_hits_by_df[id(df)] = kept
            out.append(df)
        return out

    # -- VectorInput id resolution ------------------------------------------

    def _lookup_source(self, spec: Any, vec_col: str):
        """Normalize a ``lookup_from`` spec to (cache_key, df, vec_col).
        Accepts None (this collection), a DataFrame, a collection name, or
        the reference's LookupLocation dict {"collection", "vector"}
        (collection_query.rs:147-152, fetch_vectors.rs)."""
        if spec is None:
            return (None, self.points, vec_col)
        if isinstance(spec, DataFrame):
            return (("df", id(spec)), spec, vec_col)
        if isinstance(spec, str):
            if spec not in self.collections:
                raise ValueError(f"unknown lookup_from collection {spec!r}")
            return (("coll", spec), self.collections[spec], vec_col)
        if isinstance(spec, dict):
            name = spec.get("collection")
            if name not in self.collections:
                raise ValueError(f"unknown lookup_from collection {name!r}")
            return (("coll", name), self.collections[name],
                    spec.get("vector") or vec_col)
        raise ValueError(f"bad lookup_from: {spec!r}")

    def _node_lookup(self, req: dict[str, Any]):
        query = req.get("query")
        vec_col = req.get("using", self.default_vec_col)
        spec = None
        if isinstance(query, dict):
            for sub in ("nearest", "recommend", "discover"):
                if isinstance(query.get(sub), dict) and "lookup_from" in query[sub]:
                    spec = query[sub]["lookup_from"]
            if spec is None:
                spec = query.get("lookup_from")
        if spec is None:
            spec = req.get("lookup_from")
        return self._lookup_source(spec, vec_col)

    def _batch_resolve_ids(self, request: dict[str, Any]) -> dict[tuple, list]:
        """One bounded collect per (source, vector column) for ALL id
        references in the request tree — a recommend with 50 id-positions
        resolves in a single scan, not 50 driver round-trips (the
        reference batches identically: fetch_vectors.rs resolves every
        referenced id of a request in one retrieve)."""
        wanted: dict[tuple, tuple] = {}  # key -> (df, vec_col, set(ids))
        self._self_refs: set = set()  # same-collection refs, for exclusion

        def walk(req: dict[str, Any]) -> None:
            key, df, vc = self._node_lookup(req)
            query = req.get("query")

            def add(t: Any) -> None:
                if isinstance(t, dict) and "id" in t:
                    wanted.setdefault((key, vc), (df, vc, set()))[2].add(t["id"])
                    if key is None:
                        self._self_refs.add(t["id"])

            if isinstance(query, dict):
                if "nearest" in query and not (
                    isinstance(query["nearest"], dict) and "indices" in query["nearest"]
                ):
                    add(query["nearest"])
                if "recommend" in query:
                    r = query["recommend"]
                    for t in (r.get("positive") or []) + (r.get("negative") or []):
                        add(t)
                if "discover" in query:
                    d = query["discover"]
                    add(d.get("target"))
                    for p in d.get("context") or []:
                        add(p.get("positive"))
                        add(p.get("negative"))
                if "context" in query:
                    for p in query["context"] or []:
                        add(p.get("positive"))
                        add(p.get("negative"))
            children = req.get("prefetch") or []
            if isinstance(children, dict):
                children = [children]
            for c in children:
                walk(c)

        walk(request)
        cache: dict[tuple, list] = {}
        for (key, vc), (df, vec_col, ids) in wanted.items():
            rows = (
                df.filter(F.col(self.id_col).isin(list(ids)))
                .select(self.id_col, vec_col)
                .collect()
            )
            for r in rows:
                if r[1] is not None:
                    cache[(key, vc, r[0])] = list(r[1])
        return cache

    def _resolve_vector_input(self, target: Any, req: dict[str, Any]) -> list:
        """VectorInput (VectorInputInternal::Id, collection_query.rs:
        147-152): a query position may be a point id, pre-resolved against
        this collection (or ``lookup_from``) by ``_batch_resolve_ids``."""
        if isinstance(target, dict) and "id" in target:
            key, _, vc = self._node_lookup(req)
            try:
                return self._vec_cache[(key, vc, target["id"])]
            except KeyError:
                raise ValueError(f"vector id {target['id']!r} not found")
        return target

    def _leaf(self, query: Any, req: dict[str, Any], limit: int,
              depth: int = 0) -> DataFrame:
        from qdrant_spark.operators import recommend as R
        from qdrant_spark.operators.knn import knn
        from qdrant_spark.operators.points import sample as sample_points
        from qdrant_spark.operators.points import scroll

        flt = req.get("filter")
        vec_col = req.get("using", self.default_vec_col)
        metric = self.metric_for(vec_col)
        offset = int(req.get("offset", 0))
        threshold = req.get("score_threshold")
        pts = self.points
        pre_filtered = False
        if flt and self.text_params:
            # apply the filter HERE so declared text-index params reach the
            # tokenizer (knn/scroll/recommend compile flt without them)
            from qdrant_spark.filters import apply_filter

            pts = apply_filter(pts, flt, text_params=self.text_params,
                               id_col=self.id_col)
            flt = None
            pre_filtered = True
        kw = dict(vec_col=vec_col, id_col=self.id_col, k=limit, flt=flt)

        if query is None:  # scroll by id
            out = scroll(pts, limit=limit, flt=flt, id_col=self.id_col)
            return out.select(self.id_col).withColumn("score", F.lit(0.0))
        if "recommend" in query:
            r = query["recommend"]
            if r.get("strategy", "average_vector") == "average_vector" \
                    and r.get("positive"):
                # avg_vector reduces to a PLAIN dense nearest on the
                # merged vector — rewrite the leaf so it inherits every
                # indexed route (IVF / quantized / composed / exact
                # crossover), exactly the reference's reduction
                # (lib/collection/src/recommendations.rs
                # recommend_by_avg_vector -> CoreSearchRequest; the
                # HNSW+quantization path then serves it like any
                # search). Sparse / multivector inputs fall through to
                # the dedicated operator below.
                import numpy as np

                try:
                    pos = np.asarray(
                        [self._resolve_vector_input(t, req)
                         for t in r.get("positive") or []],
                        dtype=np.float64)
                    neg = np.asarray(
                        [self._resolve_vector_input(t, req)
                         for t in r.get("negative") or []],
                        dtype=np.float64)
                except (TypeError, ValueError):
                    pos = neg = None
                if pos is not None and pos.ndim == 2 and \
                        (neg.size == 0 or neg.ndim == 2):
                    avg_pos = pos.mean(axis=0)
                    merged = avg_pos if neg.size == 0 \
                        else avg_pos + avg_pos - neg.mean(axis=0)
                    query = {"nearest": [float(x) for x in merged]}
        if "nearest" in query:
            target = query["nearest"]
            if isinstance(target, dict) and "id" in target:
                from pyspark.sql import types as T

                _, src_df, lookup_vc = self._node_lookup(req)
                dt = src_df.schema[lookup_vc].dataType \
                    if lookup_vc in src_df.columns else None
                if isinstance(dt, T.StructType) and \
                        {"indices", "values"} <= {f.name for f in dt.fields}:
                    # id-referenced SPARSE query: resolve the stored
                    # sparse vector and continue as an explicit sparse
                    # target (VectorInputInternal::Id resolution,
                    # fetch_vectors.rs — without this the [indices,
                    # values] pair fell into the multivector branch)
                    resolved = self._resolve_vector_input(target, req)
                    target = {"indices": [int(d) for d in resolved[0]],
                              "values": [float(v) for v in resolved[1]]}
            if isinstance(target, dict) and "indices" in target:  # sparse vector
                sp_idx = self.sparse_indexes.get(vec_col)
                if sp_idx is not None and not self._leaf_exact(req):
                    # registered inverted index: posting lists of the
                    # query's dims only (dim-bucket PartitionFilters on a
                    # persisted index) instead of re-exploding the
                    # corpus's sparse columns — the reference always
                    # searches sparse through its inverted index
                    # (lib/sparse/src/index/search_context.rs:37-91)
                    from qdrant_spark.filters import apply_filter as _af
                    from qdrant_spark.operators.sparse import sparse_knn_index

                    cand = None
                    if flt is not None or pre_filtered:
                        src = _af(pts, flt, id_col=self.id_col) \
                            if flt is not None else pts
                        cand = src.select(
                            F.col(self.id_col).alias(sp_idx.id_col))
                    self.last_plan_info["sparse_index_leaves"] = \
                        self.last_plan_info.get("sparse_index_leaves", 0) + 1
                    out = sparse_knn_index(
                        sp_idx, target["indices"], target["values"],
                        k=limit + offset, cand=cand,
                    ).select(F.col(sp_idx.id_col).alias(self.id_col),
                             "score")
                    if threshold is not None:
                        # score_threshold applies to sparse search like any
                        # other, with the reference's STRICT direction-aware
                        # check (check_threshold, types.rs:364-369; sparse is
                        # always larger-better dot). Filtering AFTER the
                        # top-(limit+offset) cut is value-identical to
                        # filtering before it because the cut keeps the
                        # highest scores.
                        out = out.filter(F.col("score") > float(threshold))
                    return out.offset(offset) if offset else out
                from qdrant_spark.operators.sparse import sparse_knn

                skw = {}
                if "using" in req:
                    # named sparse vector: struct column vec_<name>
                    # {indices, values} (qdrant SparseVector layout)
                    skw = dict(indices_col=f"{vec_col}.indices",
                               values_col=f"{vec_col}.values")
                out = sparse_knn(
                    pts, target["indices"], target["values"],
                    k=limit + offset,
                    id_col=self.id_col, flt=flt, **skw,
                ).select(self.id_col, "score")
                if threshold is not None:
                    out = out.filter(F.col("score") > float(threshold))
                return out.offset(offset) if offset else out
            target = self._resolve_vector_input(target, req)
            if target and isinstance(target[0], (list, tuple)):
                # multivector query -> MaxSim over an array<array<float>>
                # column (multivector config, types.rs MultiVectorConfig;
                # scoring operators/multivec.py). dot/cosine only, like
                # the reference.
                from pyspark.sql.window import Window

                from qdrant_spark.filters import apply_filter as _af
                from qdrant_spark.operators.multivec import (
                    maxsim_knn, maxsim_knn_ivf,
                )

                mvq = (req.get("params") or {}).get("quantization") or {}
                sqh = self.maxsim_sq_indexes.get(vec_col)
                # filtered requests keep the quantized route (r12): the
                # payload filter evaluates on the float frame and reaches
                # the narrow code scan as an id semi-join, the dense
                # _coarse_src posture
                use_sq = (sqh is not None
                          and not pre_filtered and not mvq.get("ignore")
                          and not self._leaf_exact(req))
                if use_sq:
                    # same exact-vs-routed crossover as the token-IVF
                    # route: the rescore's second (float-token) scan
                    # only pays once the corpus outgrows page cache
                    from qdrant_spark.operators.multivec import (
                        MAXSIM_FULL_SCAN_THRESHOLD,
                    )

                    sq_thr = (MAXSIM_FULL_SCAN_THRESHOLD
                              if sqh.full_scan_threshold is None
                              else sqh.full_scan_threshold)
                    if sq_thr:
                        if sqh.n_docs is None:
                            sqh.n_docs = sqh.points.count()
                        use_sq = sqh.n_docs >= sq_thr
                route = self.maxsim_indexes.get(vec_col)
                use_pruned = (route is not None
                              and flt is None and not pre_filtered
                              and not self._leaf_exact(req))
                if use_pruned:
                    # exact-vs-pruned crossover (the MaxSim analogue of
                    # the dense full_scan_threshold dispatch): below the
                    # calibrated doc count the exact one-pass BLAS scan
                    # beats the candidate stage it would avoid — the
                    # bench measured pruned 3.4x SLOWER at 512k docs
                    # (multivec.MAXSIM_FULL_SCAN_THRESHOLD)
                    from qdrant_spark.operators.multivec import (
                        MAXSIM_FULL_SCAN_THRESHOLD,
                    )

                    ms_thr = (MAXSIM_FULL_SCAN_THRESHOLD
                              if route.full_scan_threshold is None
                              else route.full_scan_threshold)
                    if ms_thr:
                        if route.n_docs is None:
                            route.n_docs = route.index.points.count()
                        use_pruned = route.n_docs >= ms_thr
                # pruned-vs-pruned preference (r14): a route carrying
                # the INVLIST layout beats both quantized ladders —
                # reading the probed partitions' floats directly
                # outran the coarse-over-codes plans at every measured
                # size (r13 verdict: invlist 0.53 s vs composed 1.83 s
                # vs exact 0.95 s at 2M docs, recall@10 = 1.0; codes
                # only plausibly pay in the cold-IO regime, declarable
                # via MaxSimRoute.prefer_composed)
                invlist_pref = (use_pruned
                                and route.index.clustered_points
                                is not None
                                and not route.prefer_composed)
                # membership degrade (r15, opt-in): when the estimated
                # probe-union membership is ~1 the composed candidate
                # stage prunes nothing — take the quant-only
                # coarse+rescore leaf instead (see
                # MaxSimRoute.degrade_membership)
                degraded = False
                if (use_sq and use_pruned and flt is None
                        and not invlist_pref
                        and route.degrade_membership is not None):
                    from qdrant_spark.operators.multivec import (
                        maxsim_membership_fraction,
                    )

                    degraded = (maxsim_membership_fraction(
                        route, target, metric=metric)
                        >= route.degrade_membership)
                    if degraded:
                        self.last_plan_info["maxsim_degraded_leaves"] = \
                            self.last_plan_info.get(
                                "maxsim_degraded_leaves", 0) + 1
                if use_sq and use_pruned and flt is None \
                        and not invlist_pref and not degraded:
                    # BOTH token clusters and token codes are declared:
                    # compose them — probe clusters for candidates,
                    # coarse-MaxSim the candidates' token CODES, exact-
                    # rescore the survivors' float tokens (r12; the
                    # multivector twin of the dense quant x IVF leaf and
                    # the reference's HNSW-over-quantized-multivector
                    # posture, hnsw.rs quantized scorer +
                    # quantized_vectors.rs; PLAID's full ladder).
                    # EXCEPT when the route carries the invlist layout:
                    # reading the probed partitions' floats directly
                    # beats the coarse-over-codes ladder at every
                    # measured size (r13 verdict: 0.53 s invlist vs
                    # 1.83 s composed vs 0.95 s exact at 2M docs) — the
                    # invlist route below wins unless
                    # MaxSimRoute.prefer_composed declares the cold-IO
                    # regime where code width could pay.
                    from qdrant_spark.operators.multivec import (
                        maxsim_knn_quant_ivf,
                    )

                    self.last_plan_info["maxsim_quant_ivf_leaves"] = \
                        self.last_plan_info.get(
                            "maxsim_quant_ivf_leaves", 0) + 1
                    out = maxsim_knn_quant_ivf(
                        route.index, sqh, target, k=limit + offset,
                        nprobe=route.nprobe, metric=metric,
                        candidates=route.candidates,
                        oversampling=float(mvq.get("oversampling")
                                           or sqh.oversampling),
                        rescore=mvq.get("rescore") is not False)
                elif use_sq and not invlist_pref:
                    # declared multivector quantization: the coarse
                    # MaxSim scan reads the declared kind's token codes
                    # — int8 (scalar), packed bits (binary), codebook
                    # indices (product) or rotated Lloyd-Max codes
                    # (turbo) — and the exact rescore touches only the
                    # oversampled candidates' float tokens
                    # (quantized_vectors.rs is vector-kind-agnostic;
                    # SearchParams.quantization semantics as for dense)
                    from qdrant_spark.operators.multivec import (
                        maxsim_knn_quant,
                    )

                    self.last_plan_info["maxsim_sq_leaves"] = \
                        self.last_plan_info.get("maxsim_sq_leaves", 0) + 1
                    out = maxsim_knn_quant(
                        sqh, target, k=limit + offset, metric=metric,
                        oversampling=float(mvq.get("oversampling")
                                           or sqh.oversampling),
                        rescore=mvq.get("rescore") is not False,
                        flt=flt)
                elif use_pruned:
                    # registered token-level coarse index: probe per
                    # query token, exact MaxSim over candidates only
                    self.last_plan_info["maxsim_index_leaves"] = \
                        self.last_plan_info.get("maxsim_index_leaves", 0) + 1
                    out = maxsim_knn_ivf(
                        route.index, target, k=limit + offset,
                        nprobe=route.nprobe, metric=metric,
                        candidates=route.candidates)
                else:
                    src = _af(pts, flt, id_col=self.id_col) if flt else pts
                    out = maxsim_knn(src, target, k=limit + offset,
                                     metric=metric, mv_col=vec_col,
                                     id_col=self.id_col)
                if threshold is not None:
                    # strict check like dense knn (check_threshold,
                    # types.rs:364-369; maxsim is larger-better dot/cosine)
                    out = out.filter(F.col("score") > float(threshold))
                if offset:
                    w = Window.orderBy(F.col("score").desc(),
                                       F.col(self.id_col).asc())
                    out = (out.withColumn("__rn", F.row_number().over(w))
                           .filter(F.col("__rn") > offset).drop("__rn"))
                return out.select(self.id_col, "score")
            ivf = self._ivf_for(vec_col)
            qih_reg = self.quant_ivf_indexes.get(vec_col)
            qh = self.quant_indexes.get(vec_col)
            if qh is None and qih_reg is not None:
                # composed-only registration still carries the coarse
                # handle — ignore/exact fallbacks work the same
                qh = qih_reg.handle
            qp = (req.get("params") or {}).get("quantization") or {}
            quant_ok = (qh is not None and not qp.get("ignore")
                        and not pre_filtered and not self._leaf_exact(req)
                        and self._quant_crossover_ok(vec_col))
            if quant_ok and (qih_reg is not None or ivf is not None) \
                    and flt is None:
                # BOTH a cluster structure and quantized codes are
                # declared for this column: compose them — probe
                # clusters, score codes, exact-rescore floats — the
                # reference's quantized-HNSW posture (hnsw.rs quantized
                # scorer; hnsw_quantized_search_test.rs). Previously the
                # IVF-wins rule silently dropped the code-width pruning.
                # Filtered requests keep the IVF dispatcher below (its
                # selectivity/ACORN logic preserves recall under
                # filters; cluster pruning alone would not).
                from qdrant_spark.operators.knn import _threshold_cond
                from qdrant_spark.operators.quantize import quant_ivf_search

                qih = (qih_reg if qih_reg is not None
                       else self._quant_ivf_for(vec_col, qh, ivf))
                self.last_plan_info["quant_ivf_leaves"] = \
                    self.last_plan_info.get("quant_ivf_leaves", 0) + 1
                out = quant_ivf_search(
                    qih, target, k=limit + offset, metric=metric,
                    rescore=qp.get("rescore"),
                    oversampling=qp.get("oversampling"),
                ).select(F.col(qih.id_col).alias(self.id_col), "score")
                if threshold is not None:
                    cond_metric = ("dot" if qp.get("rescore") is False
                                   and qh.kind == "binary" else metric)
                    out = out.filter(
                        _threshold_cond(cond_metric, float(threshold)))
                return out.offset(offset) if offset else out
            if (ivf is not None and offset == 0
                    and threshold is None and not pre_filtered
                    and not self._leaf_exact(req)):
                from qdrant_spark.operators.dispatch import (
                    FULL_SCAN_THRESHOLD, auto_search,
                )

                primary = ivf is self.ivf_index
                if vec_col not in self._index_totals:
                    self._index_totals[vec_col] = ivf.assigned.count()
                return auto_search(
                    ivf, target, k=limit, flt=flt,
                    metric=metric,
                    stats=self.index_stats if primary else {},
                    total=self._index_totals[vec_col],
                    full_scan_threshold=(self.full_scan_threshold
                                         or FULL_SCAN_THRESHOLD),
                    cluster_stats=(self.cluster_stats if primary
                                   else None),
                )
            if quant_ok and ivf is None:
                # declared quantization: coarse scan over the code column
                # + oversampled exact rescore (QuantizationSearchParams
                # semantics, types.rs:573-628). `ignore: true` and
                # params.exact fall through to the exact scan below, like
                # the reference's raw-scorer fallback.
                from qdrant_spark.operators.knn import _threshold_cond
                from qdrant_spark.operators.quantize import quant_search

                self.last_plan_info["quant_leaves"] = \
                    self.last_plan_info.get("quant_leaves", 0) + 1
                out = quant_search(
                    qh, target, k=limit + offset, metric=metric, flt=flt,
                    rescore=qp.get("rescore"),
                    oversampling=qp.get("oversampling"),
                ).select(F.col(qh.id_col).alias(self.id_col), "score")
                if threshold is not None:
                    # with rescore=false this thresholds the returned
                    # QUANTIZED scores — the reference accepts the
                    # combination and applies check_threshold to the
                    # scores it returns (types.rs:364-369; r10 ADVICE —
                    # previously raised). Binary coarse scores are the
                    # ±1-dot estimate (larger-better whatever the
                    # metric), so they threshold in that direction.
                    cond_metric = ("dot" if qp.get("rescore") is False
                                   and qh.kind == "binary" else metric)
                    out = out.filter(
                        _threshold_cond(cond_metric, float(threshold)))
                return out.offset(offset) if offset else out
            out = knn(pts, target, metric=metric,
                      score_threshold=threshold, offset=offset,
                      select=[self.id_col, "score"], **kw)
            return out
        rv = lambda t: self._resolve_vector_input(t, req)  # noqa: E731
        if "recommend" in query:
            r = query["recommend"]
            strat = r.get("strategy", "average_vector")
            pos = [rv(t) for t in r.get("positive") or []]
            neg = [rv(t) for t in r.get("negative") or []]
            fn = {
                "average_vector": R.recommend_avg_vector,
                "best_score": R.recommend_best_score,
                "sum_scores": R.recommend_sum_scores,
            }[strat]
            kw2 = dict(kw, k=limit + offset)
            if strat == "average_vector":
                kw2["score_threshold"] = threshold
            out = fn(pts, pos, neg, metric=metric, **kw2)
            out = out.select(self.id_col, "score")
            return out.offset(offset) if offset else out
        kw_off = dict(kw, k=limit + offset)
        if "discover" in query:
            d = query["discover"]
            pairs = [(rv(p["positive"]), rv(p["negative"])) for p in d["context"]]
            out = R.discover(pts, rv(d["target"]), pairs,
                             metric=metric,
                             **kw_off).select(self.id_col, "score")
            return out.offset(offset) if offset else out
        if "context" in query:
            pairs = [(rv(p["positive"]), rv(p["negative"])) for p in query["context"]]
            out = R.context(pts, pairs, metric=metric, **kw_off).select(
                self.id_col, "score")
            return out.offset(offset) if offset else out
        if "order_by" in query:
            ob = query["order_by"]
            key, direction = ob["key"], ob.get("direction", "asc")
            out = scroll(pts, limit=limit, flt=flt, id_col=self.id_col,
                         order_by=key, direction=direction,
                         start_from=ob.get("start_from"))
            return out.select(
                self.id_col, F.col(key).cast("double").alias("score")
            )
        if "sample" in query:
            out = sample_points(pts, limit, flt=flt)
            out = out.select(self.id_col).withColumn("score", F.lit(0.0))
            if self.emit_rank and depth == 0:
                # the sample's hash order, as an explicit rank: the
                # window re-sorts only the <= limit sampled rows
                from pyspark.sql.window import Window

                from qdrant_spark.operators.points import _sample_hash

                w = Window.orderBy(_sample_hash(F.col(self.id_col), 42),
                                   F.col(self.id_col).asc())
                out = out.withColumn("__rank", F.row_number().over(w))
                self.last_plan_rank_col = "__rank"
            return out
        raise ValueError(f"unsupported leaf query: {query!r}")

    def _rescore(self, query: Any, children: list[DataFrame],
                 req: dict[str, Any], limit: int,
                 depth: int = 0) -> DataFrame:
        from qdrant_spark.operators.fusion import dbsf, rrf

        if query is None:
            query = {"fusion": "rrf"}
        if "fusion" in query:
            from qdrant_spark.operators.fusion import dbsf_hits, rrf_hits
            from qdrant_spark.operators.knn import larger_is_better

            # Driver-side fast path: every child is a fused leg whose hits
            # are already collected (bounded, best-first). Restricted to
            # larger-is-better metrics so the ranking matches the Spark
            # fusion operators bit-for-bit (they rank score-desc).
            hits = [self._fused_hits_by_df.get(id(c)) for c in children]
            # every registered leg is larger-is-better by construction
            # (_fused_leaves only registers those), matching the Spark
            # fusion operators' score-desc ranking bit-for-bit
            if hits and all(h is not None for h in hits):
                self.last_plan_info["driver_fused_root"] = 1
                fused = {"rrf": rrf_hits, "dbsf": dbsf_hits}[query["fusion"]](
                    hits, limit=limit)
                from pyspark.sql import types as T

                id_type = self.points.schema[self.id_col].dataType
                schema = T.StructType([
                    T.StructField(self.id_col, id_type),
                    T.StructField("score", T.DoubleType()),
                ])
                return _local_result_df(
                    self.points.sparkSession, fused, schema)
            if self.driver_lazy_fusion:
                # r14: lazy legs are bounded top-k frames too — collect
                # them (jobs overlapped from a small thread pool, guide
                # §2.6) and fuse driver-side. Ranking mirrors the Spark
                # operators' DEFAULT orders exactly: every leg re-sorted
                # (score desc, id asc) before the rank-based formula, so
                # values match rrf()/dbsf() for any leg metric.
                from concurrent.futures import ThreadPoolExecutor

                from qdrant_spark.operators.fusion import (
                    dbsf_hits, rrf_hits,
                )

                def _leg_hits(i_c):
                    i, c = i_c
                    h = self._fused_hits_by_df.get(id(c))
                    if h is not None:
                        return h
                    rows = c.select(self.id_col, "score").collect()
                    return sorted(((r[0], float(r[1])) for r in rows),
                                  key=lambda t: (-t[1], t[0]))

                if len(children) > 1:
                    with ThreadPoolExecutor(
                            max_workers=min(3, len(children))) as pool:
                        hits = list(pool.map(_leg_hits,
                                             enumerate(children)))
                else:
                    hits = [_leg_hits((0, children[0]))]
                self.last_plan_info["driver_lazy_fusion"] = \
                    self.last_plan_info.get("driver_lazy_fusion", 0) + 1
                fused = {"rrf": rrf_hits, "dbsf": dbsf_hits}[
                    query["fusion"]](hits, limit=limit)
                from pyspark.sql import types as T

                id_type = self.points.schema[self.id_col].dataType
                schema = T.StructType([
                    T.StructField(self.id_col, id_type),
                    T.StructField("score", T.DoubleType()),
                ])
                return _local_result_df(
                    self.points.sparkSession, fused, schema)
            fn = {"rrf": rrf, "dbsf": dbsf}[query["fusion"]]
            return fn(children, id_col=self.id_col, limit=limit)
        # merge children candidate ids (dedup), then re-score
        merged = children[0].select(self.id_col)
        for c in children[1:]:
            merged = merged.unionByName(c.select(self.id_col))
        merged = merged.distinct()
        if "nearest" in query:
            from qdrant_spark.operators.knn import knn

            vec_col = req.get("using", self.default_vec_col)
            cand = self.points.join(merged, self.id_col, "left_semi")
            return knn(cand, query["nearest"], metric=self.metric_for(vec_col),
                       k=limit,
                       vec_col=vec_col, id_col=self.id_col,
                       score_threshold=req.get("score_threshold"),
                       select=[self.id_col, "score"])
        if "formula" in query:
            from qdrant_spark.operators.formula import rescore_formula

            # formula sees $score = first child's score plus payload columns
            cand = children[0].join(self.points, self.id_col, "left")
            return rescore_formula(
                cand, query["formula"], id_col=self.id_col, limit=limit,
                defaults=query.get("defaults"),
            ).select(self.id_col, "score")
        if "mmr" in query:
            from qdrant_spark.operators.mmr import mmr

            m = query["mmr"]
            vec_col = req.get("using", self.default_vec_col)
            cand = children[0].join(
                self.points.select(self.id_col, vec_col), self.id_col, "left"
            )
            out = mmr(cand, lambda_=1.0 - float(m.get("diversity", 0.5)),
                      k=limit, metric=self.metric_for(vec_col),
                      id_col=self.id_col, vec_col=vec_col)
            if self.emit_rank and depth == 0:
                # carry the pick order as an explicit column so the
                # caller can hydrate in ONE job and re-sort driver-side
                self.last_plan_rank_col = "__rank"
                return out.select(self.id_col, "score",
                                  F.col("rank").alias("__rank"))
            return out.select(self.id_col, "score")
        if "order_by" in query:
            ob = query["order_by"]
            key, direction = ob["key"], ob.get("direction", "asc")
            cand = merged.join(self.points, self.id_col, "left")
            c = F.col(key)
            order = [c.asc() if direction == "asc" else c.desc(),
                     F.col(self.id_col).asc()]
            return (cand.orderBy(*order).limit(limit)
                    .select(self.id_col, c.cast("double").alias("score")))
        raise ValueError(f"unsupported rescore query: {query!r}")


def universal_query(
    points: DataFrame,
    request: dict[str, Any],
    *,
    id_col: str = "id",
    vec_col: str = "vec",
    metric: str = "cosine",
    collections: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """One-shot entry: plan and return (id, score) best-first.

    A ``shard_key`` selector on the request routes BEFORE planning
    (shard_holder resolves ShardSelectorInternal above the per-shard query,
    shard_holder/mod.rs:663): the whole prefetch tree then runs against the
    selected shards only, and the filter prunes partitions when the shard
    column is a partition column.

    When the large-corpus prefetch-fusion fallback engages (shared scan
    persisted as a DataFrame), the result is materialized EAGERLY here —
    at most ``limit`` rows are collected to the driver and returned as a
    local DataFrame — so the cached scan can be freed before this
    one-shot planner is discarded. Consequence: on that path the returned
    DataFrame is a snapshot and does NOT recompute against later
    mutations of ``points``; the common non-fallback paths stay lazy."""
    if request.get("shard_key") is not None:
        from qdrant_spark.operators.sharding import select_shards

        selector = request["shard_key"]
        request = {k: v for k, v in request.items() if k != "shard_key"}
        points = select_shards(points, selector, col="shard_key")
    planner = QueryPlanner(
        points, id_col=id_col, default_vec_col=vec_col, metric=metric,
        collections=collections,
    )
    out = planner.plan(request)
    return _release_one_shot(planner, out)


def _release_one_shot(planner: "QueryPlanner", out: DataFrame) -> DataFrame:
    """One-shot entries discard the planner, so a shared scan persisted by
    the fused DataFrame fallback would stay cached forever (r6 ADVICE).
    Materialize the root (small: <= the request's limit rows — the output
    the caller is about to collect, NOT the legs*need-row scan the
    fallback exists to keep off the driver) through the cache once, then
    free the scan and hand back a rebuilt local DataFrame. No-op on the
    common non-fallback paths; localCheckpoint is avoided because its
    blocks would themselves stay resident for the application lifetime."""
    if planner._fused_persisted:
        from qdrant_spark.session import local_df

        rows = out.collect()
        spark = planner.points.sparkSession
        out = local_df(spark, rows, out.schema)
        planner.close()
    return out


def _batch_sparse_indexed(planner: "QueryPlanner",
                          requests: list[dict[str, Any]],
                          outs: list) -> None:
    """Batch-side sparse grouping: unfiltered single-leaf sparse nearest
    requests whose vector column has a registered inverted index are
    answered by ONE :func:`~qdrant_spark.operators.sparse.
    sparse_knn_index_batch` scan over the union of their dim buckets (the
    reference walks its posting lists once for the whole batch), then
    split into per-request local frames — value-identical per request to
    planning each alone (offset and score_threshold are applied per
    request after the shared scan, mirroring the single-request leaf's
    k=limit+offset / threshold-filter / offset order). Requests with
    filters / exact / shard routing keep their own plan."""
    sparse_groups: dict[str, list[int]] = {}
    for i, req in enumerate(requests):
        if outs[i] is not None or req.get("prefetch") \
                or req.get("shard_key") is not None \
                or req.get("filter") is not None:
            continue
        q = req.get("query")
        if not (isinstance(q, dict) and isinstance(q.get("nearest"), dict)
                and "indices" in q["nearest"]):
            continue
        vc = req.get("using", planner.default_vec_col)
        if planner.sparse_indexes.get(vc) is None \
                or planner._leaf_exact(req):
            continue
        sparse_groups.setdefault(vc, []).append(i)
    from pyspark.sql import types as T

    for vc, idxs in sparse_groups.items():
        if len(idxs) < 2:
            continue
        limits = {i: int(requests[i].get("limit", DEFAULT_LIMIT))
                  for i in idxs}
        offsets = {i: int(requests[i].get("offset", 0)) for i in idxs}
        ks = {i: limits[i] + offsets[i] for i in idxs}
        if len(idxs) * max(ks.values()) > planner.fused_collect_max:
            continue  # keep per-request plans; nothing funnels the driver
        from qdrant_spark.operators.sparse import sparse_knn_index_batch

        idx = planner.sparse_indexes[vc]
        qs = [(i, [int(d) for d in requests[i]["query"]["nearest"]["indices"]],
               [float(v) for v in requests[i]["query"]["nearest"]["values"]])
              for i in idxs]
        rows = sparse_knn_index_batch(
            idx, qs, k=max(ks.values())).collect()
        id_type = planner.points.schema[planner.id_col].dataType
        schema = T.StructType([
            T.StructField(planner.id_col, id_type),
            T.StructField("score", T.DoubleType()),
        ])
        spark = planner.points.sparkSession
        for i in idxs:
            thr = requests[i].get("score_threshold")
            hits = sorted(
                ((r[idx.id_col], float(r["score"]))
                 for r in rows if r["qid"] == i
                 and (thr is None or float(r["score"]) > float(thr))),
                key=lambda h: (-h[1], h[0]),
            )[offsets[i]: offsets[i] + limits[i]]
            outs[i] = _local_result_df(spark, hits, schema)


def _batch_maxsim_quant(planner: "QueryPlanner",
                        requests: list[dict[str, Any]],
                        outs: list) -> None:
    """Batched quantized-MULTIVECTOR grouping (late r11): unfiltered
    single-leaf MaxSim requests on a column with quantized token storage
    are answered by ONE coarse scan over the codes (all query
    multivectors concatenated into one token matrix,
    multivec.maxsim_quant_coarse_batch) plus ONE pair-scored exact
    MaxSim rescore over the union of candidates — value-identical per
    request to planning each alone. The same exact-vs-quantized
    crossover as the single-request leaf applies to the whole group."""
    import numpy as np

    from pyspark.sql import types as T

    from qdrant_spark.operators.multivec import (
        MAXSIM_FULL_SCAN_THRESHOLD, maxsim_pair_topk,
        maxsim_quant_coarse_batch,
    )

    groups: dict[str, list[int]] = {}
    for i, req in enumerate(requests):
        if outs[i] is not None or req.get("prefetch") \
                or req.get("shard_key") is not None \
                or req.get("filter") is not None:
            continue
        q = req.get("query")
        if not (isinstance(q, dict) and isinstance(q.get("nearest"),
                                                   (list, tuple))):
            continue
        t = q["nearest"]
        if not (t and isinstance(t[0], (list, tuple))):
            continue  # dense / sparse keep their own groups
        vc = req.get("using", planner.default_vec_col)
        if planner.maxsim_sq_indexes.get(vc) is None:
            continue
        if planner.metric_for(vc) not in ("dot", "cosine"):
            continue
        qp = (req.get("params") or {}).get("quantization") or {}
        if qp.get("ignore") or planner._leaf_exact(req):
            continue
        groups.setdefault(vc, []).append(i)

    for vc, idxs in groups.items():
        if len(idxs) < 2:
            continue
        sqh = planner.maxsim_sq_indexes[vc]
        thr = (MAXSIM_FULL_SCAN_THRESHOLD
               if sqh.full_scan_threshold is None
               else sqh.full_scan_threshold)
        if thr:
            if sqh.n_docs is None:
                sqh.n_docs = sqh.points.count()
            if sqh.n_docs < thr:
                continue  # per-request plans take the exact scan
        route = planner.maxsim_indexes.get(vc)
        if route is not None:
            # a registered token-IVF route above its crossover owns the
            # single-request plan as the COMPOSED leaf (r12) — keep the
            # batch value-identical by letting those requests plan
            # per-request (a fused composed multivector batch would need
            # a per-query candidate mask, like _batch_quant_ivf_indexed)
            r_thr = (MAXSIM_FULL_SCAN_THRESHOLD
                     if route.full_scan_threshold is None
                     else route.full_scan_threshold)
            if not r_thr:
                continue
            if route.n_docs is None:
                route.n_docs = route.index.points.count()
            if route.n_docs >= r_thr:
                continue
        metric = planner.metric_for(vc)
        ks, cs, rescores = {}, {}, {}
        for i in idxs:
            req = requests[i]
            qp = (req.get("params") or {}).get("quantization") or {}
            ks[i] = int(req.get("limit", DEFAULT_LIMIT)) \
                + int(req.get("offset", 0))
            over = float(qp.get("oversampling") or sqh.oversampling)
            cs[i] = max(ks[i], int(np.ceil(ks[i] * over)))
            rescores[i] = qp.get("rescore") is not False
        if len(idxs) * max(cs.values()) > planner.fused_collect_max:
            continue
        queries = [requests[i]["query"]["nearest"] for i in idxs]
        coarse = maxsim_quant_coarse_batch(
            sqh, queries, max(cs.values()), metric=metric).collect()
        planner.last_plan_info["maxsim_quant_batch_groups"] = \
            planner.last_plan_info.get("maxsim_quant_batch_groups", 0) + 1
        _finish_maxsim_group(planner, requests, idxs, outs, sqh,
                             metric, ks, cs, rescores, queries, coarse)


def _finish_maxsim_group(planner, requests, idxs, outs, sqh, metric,
                         ks, cs, rescores, queries, coarse) -> None:
    """Shared tail of the batched quantized / composed MaxSim groups:
    bucket the collected coarse rows per request, exact-rescore the
    rescore=True requests' survivors over ONE float-token pair scan, and
    emit per-request local results with threshold/offset/limit applied
    — value-identical per request to planning each alone."""
    from pyspark.sql import types as T

    from qdrant_spark.operators.multivec import maxsim_pair_topk

    by_req: dict[int, list] = {i: [] for i in idxs}
    for r in coarse:  # local qid 0..len(idxs)-1, ranked
        gi = idxs[r["__qid"]]
        if r["rank"] <= cs[gi]:
            by_req[gi].append((r[sqh.id_col], float(r["score"])))
    for i in idxs:  # collect order is not the window order
        by_req[i].sort(key=lambda h: (-h[1], h[0]))

    spark = planner.points.sparkSession
    id_type = planner.points.schema[planner.id_col].dataType
    schema = T.StructType([
        T.StructField(planner.id_col, id_type),
        T.StructField("score", T.DoubleType()),
    ])
    need_rescore = [i for i in idxs if rescores[i]]
    if need_rescore:
        from qdrant_spark.session import local_df

        pairs = local_df(
            spark,
            [(int(idxs.index(i)), h[0]) for i in need_rescore
             for h in by_req[i]],
            T.StructType([T.StructField("__qid", T.LongType()),
                          T.StructField(sqh.id_col, id_type)]))
        rescored = maxsim_pair_topk(
            sqh.points, pairs, queries,
            metric=metric, k=max(ks[i] for i in need_rescore),
            mv_col=sqh.mv_col, id_col=sqh.id_col).collect()
        re_by: dict[int, list] = {i: [] for i in need_rescore}
        for r in rescored:
            gi = idxs[r["__qid"]]
            if gi in re_by:
                re_by[gi].append((r[sqh.id_col], float(r["score"])))
        for i in need_rescore:
            by_req[i] = sorted(re_by[i], key=lambda h: (-h[1], h[0]))

    for i in idxs:
        req = requests[i]
        hits = by_req[i][:ks[i]]
        t = req.get("score_threshold")
        if t is not None:
            # maxsim is larger-better (dot/cosine; binary coarse
            # scores are the ±1-dot estimate — also larger-better)
            hits = [h for h in hits if h[1] > float(t)]
        off = int(req.get("offset", 0))
        lim = int(req.get("limit", DEFAULT_LIMIT))
        outs[i] = _local_result_df(spark, hits[off:off + lim], schema)


def _batch_maxsim_quant_ivf(planner: "QueryPlanner",
                            requests: list[dict[str, Any]],
                            outs: list) -> None:
    """Batched COMPOSED multivector search (r12): >=2 unfiltered MaxSim
    requests on a column with BOTH a token-IVF route and quantized token
    storage (both above their crossovers) fuse into ONE candidate scan
    of the id-only cluster-partitioned token table (each matched token
    row fans out to exactly the queries that probed its cluster) + ONE
    coarse pair scan over the candidates' token CODES (per-kind decode,
    each candidate scored only against ITS query) + ONE float-token pair
    rescore — value-identical per request to the per-request composed
    plans. Routes with a PLAID candidate cap rank every query's
    centroid-resolution candidates in the same fused scan
    (maxsim_ivf_capped_pairs)."""
    import numpy as np

    from qdrant_spark.operators.multivec import (
        MAXSIM_FULL_SCAN_THRESHOLD, maxsim_ivf_candidate_pairs,
        maxsim_quant_pair_topk,
    )

    groups: dict[str, list[int]] = {}
    for i, req in enumerate(requests):
        if outs[i] is not None or req.get("prefetch") \
                or req.get("shard_key") is not None \
                or req.get("filter") is not None:
            continue
        q = req.get("query")
        if not (isinstance(q, dict) and isinstance(q.get("nearest"),
                                                   (list, tuple))):
            continue
        t = q["nearest"]
        if not (t and isinstance(t[0], (list, tuple))):
            continue
        vc = req.get("using", planner.default_vec_col)
        if planner.maxsim_sq_indexes.get(vc) is None \
                or planner.maxsim_indexes.get(vc) is None:
            continue
        if planner.metric_for(vc) not in ("dot", "cosine"):
            continue
        qp = (req.get("params") or {}).get("quantization") or {}
        if qp.get("ignore") or planner._leaf_exact(req):
            continue
        groups.setdefault(vc, []).append(i)

    for vc, idxs in groups.items():
        if len(idxs) < 2:
            continue
        sqh = planner.maxsim_sq_indexes[vc]
        route = planner.maxsim_indexes[vc]
        if route.index.clustered_points is not None \
                and not route.prefer_composed:
            # mirror the leaf dispatch (r14): with the invlist layout the
            # plain partition-pruned float route beats the composed
            # ladder at every measured size — these requests plan
            # per-request through maxsim_knn_ivf's invlist scan
            continue
        ok = True
        for handle, n_src in ((sqh, sqh.points),
                              (route, route.index.points)):
            thr = (MAXSIM_FULL_SCAN_THRESHOLD
                   if handle.full_scan_threshold is None
                   else handle.full_scan_threshold)
            if thr:
                if handle.n_docs is None:
                    handle.n_docs = n_src.count()
                if handle.n_docs < thr:
                    ok = False  # the leaf would not take the composed plan
        if not ok:
            continue
        metric = planner.metric_for(vc)
        if route.degrade_membership is not None:
            # membership degrade (r15, opt-in): requests whose probe
            # union covers ~the whole corpus gain nothing from the
            # fused candidate stage — they split off into the
            # quant-only fused group (maxsim_quant_coarse_batch), the
            # same plan _batch_maxsim_quant builds; the rest keep the
            # composed fuse. Singles fall through to the per-request
            # leaf, which applies the same degrade rule.
            from qdrant_spark.operators.multivec import (
                maxsim_membership_fraction, maxsim_quant_coarse_batch,
            )

            deg = [i for i in idxs if maxsim_membership_fraction(
                route, requests[i]["query"]["nearest"], metric=metric)
                >= route.degrade_membership]
            if deg:
                idxs = [i for i in idxs if i not in set(deg)]
                if len(deg) >= 2:
                    ks, cs, rescores = {}, {}, {}
                    for i in deg:
                        req = requests[i]
                        qp = (req.get("params") or {}) \
                            .get("quantization") or {}
                        ks[i] = int(req.get("limit", DEFAULT_LIMIT)) \
                            + int(req.get("offset", 0))
                        over = float(qp.get("oversampling")
                                     or sqh.oversampling)
                        cs[i] = max(ks[i], int(np.ceil(ks[i] * over)))
                        rescores[i] = qp.get("rescore") is not False
                    if len(deg) * max(cs.values()) \
                            <= planner.fused_collect_max:
                        queries = [requests[i]["query"]["nearest"]
                                   for i in deg]
                        coarse = maxsim_quant_coarse_batch(
                            sqh, queries, max(cs.values()),
                            metric=metric).collect()
                        planner.last_plan_info[
                            "maxsim_degraded_batch_requests"] = \
                            planner.last_plan_info.get(
                                "maxsim_degraded_batch_requests", 0) \
                            + len(deg)
                        _finish_maxsim_group(planner, requests, deg,
                                             outs, sqh, metric, ks, cs,
                                             rescores, queries, coarse)
        if len(idxs) < 2:
            continue
        ks, cs, rescores = {}, {}, {}
        for i in idxs:
            req = requests[i]
            qp = (req.get("params") or {}).get("quantization") or {}
            ks[i] = int(req.get("limit", DEFAULT_LIMIT)) \
                + int(req.get("offset", 0))
            over = float(qp.get("oversampling") or sqh.oversampling)
            cs[i] = max(ks[i], int(np.ceil(ks[i] * over)))
            rescores[i] = qp.get("rescore") is not False
        if len(idxs) * max(cs.values()) > planner.fused_collect_max:
            continue
        queries = [requests[i]["query"]["nearest"] for i in idxs]
        if route.candidates is not None:
            # fused PLAID stage-2 cap: one scan + one groupBy ranks every
            # query's centroid-resolution candidates at once
            from qdrant_spark.operators.multivec import (
                maxsim_ivf_capped_pairs,
            )

            pairs = maxsim_ivf_capped_pairs(
                route.index, queries, nprobe=route.nprobe,
                candidates=route.candidates, metric=metric)
        else:
            pairs = maxsim_ivf_candidate_pairs(
                route.index, queries, nprobe=route.nprobe, metric=metric)
        coarse = maxsim_quant_pair_topk(
            sqh, pairs, queries, k=max(cs.values()),
            metric=metric).collect()
        planner.last_plan_info["maxsim_quant_ivf_batch_groups"] = \
            planner.last_plan_info.get(
                "maxsim_quant_ivf_batch_groups", 0) + 1
        _finish_maxsim_group(planner, requests, idxs, outs, sqh,
                             metric, ks, cs, rescores, queries, coarse)


def _batch_maxsim_exact(planner: "QueryPlanner",
                        requests: list[dict[str, Any]],
                        outs: list) -> None:
    """Batched EXACT MaxSim grouping (late r11): unfiltered single-leaf
    multivector requests that the quantized / token-IVF routes do NOT
    own (no index registered, below its crossover, or per-request
    ignore/exact) previously scanned the float-token corpus once PER
    REQUEST — now >=2 of them share ONE scan
    (multivec.maxsim_knn_batch; scores are exact, no rescore stage).
    The dense analogue is the _fused_leaves knn_batch grouping."""
    from qdrant_spark.operators.multivec import (
        MAXSIM_FULL_SCAN_THRESHOLD, maxsim_knn_batch,
    )

    groups: dict[str, list[int]] = {}
    for i, req in enumerate(requests):
        if outs[i] is not None or req.get("prefetch") \
                or req.get("shard_key") is not None \
                or req.get("filter") is not None:
            continue
        q = req.get("query")
        if not (isinstance(q, dict) and isinstance(q.get("nearest"),
                                                   (list, tuple))):
            continue
        t = q["nearest"]
        if not (t and isinstance(t[0], (list, tuple))):
            continue
        vc = req.get("using", planner.default_vec_col)
        if planner.metric_for(vc) not in ("dot", "cosine"):
            continue
        # mirror the leaf's routing: fuse only requests that would take
        # the exact scan there
        exact = planner._leaf_exact(req)
        qp = (req.get("params") or {}).get("quantization") or {}
        sqh = planner.maxsim_sq_indexes.get(vc)
        use_sq = sqh is not None and not qp.get("ignore") and not exact
        if use_sq:
            thr = (MAXSIM_FULL_SCAN_THRESHOLD
                   if sqh.full_scan_threshold is None
                   else sqh.full_scan_threshold)
            if thr:
                if sqh.n_docs is None:
                    sqh.n_docs = sqh.points.count()
                use_sq = sqh.n_docs >= thr
        route = planner.maxsim_indexes.get(vc)
        use_pruned = not use_sq and route is not None and not exact
        if use_pruned:
            thr = (MAXSIM_FULL_SCAN_THRESHOLD
                   if route.full_scan_threshold is None
                   else route.full_scan_threshold)
            if thr:
                if route.n_docs is None:
                    route.n_docs = route.index.points.count()
                use_pruned = route.n_docs >= thr
        if use_sq or use_pruned:
            continue
        groups.setdefault(vc, []).append(i)

    from pyspark.sql import types as T

    for vc, idxs in groups.items():
        if len(idxs) < 2:
            continue
        metric = planner.metric_for(vc)
        ks = {i: int(requests[i].get("limit", DEFAULT_LIMIT))
              + int(requests[i].get("offset", 0)) for i in idxs}
        if len(idxs) * max(ks.values()) > planner.fused_collect_max:
            continue
        queries = [requests[i]["query"]["nearest"] for i in idxs]
        rows = maxsim_knn_batch(
            planner.points, queries, k=max(ks.values()), metric=metric,
            mv_col=vc, id_col=planner.id_col).collect()
        planner.last_plan_info["maxsim_batch_groups"] = \
            planner.last_plan_info.get("maxsim_batch_groups", 0) + 1
        by_req: dict[int, list] = {i: [] for i in idxs}
        for r in rows:
            gi = idxs[r["__qid"]]
            if r["rank"] <= ks[gi]:
                by_req[gi].append((r[planner.id_col], float(r["score"])))
        spark = planner.points.sparkSession
        id_type = planner.points.schema[planner.id_col].dataType
        schema = T.StructType([
            T.StructField(planner.id_col, id_type),
            T.StructField("score", T.DoubleType()),
        ])
        for i in idxs:
            req = requests[i]
            hits = sorted(by_req[i], key=lambda h: (-h[1], h[0]))[:ks[i]]
            t = req.get("score_threshold")
            if t is not None:
                hits = [h for h in hits if h[1] > float(t)]
            off = int(req.get("offset", 0))
            lim = int(req.get("limit", DEFAULT_LIMIT))
            outs[i] = _local_result_df(spark, hits[off:off + lim], schema)


class _RowsLeg(NamedTuple):
    """A batch leg held as driver-side rows instead of a DataFrame —
    produced by ``_fused_leaves(as_rows=True)`` so query_batch's
    all-local fast path never pays the per-leg createDataFrame."""

    schema: Any
    rows: list


def _local_result_df(spark, rows: list, schema) -> DataFrame:
    """A ≤limit-row local result as a SINGLE-partition DataFrame.
    ``spark.createDataFrame(list)`` defaults to defaultParallelism
    slices, so a 64-request batch unioned ~2048 near-empty tasks —
    ~10s of pure scheduler overhead on the batched-composed bench line
    before this. The driver-side rows ride along on the DataFrame
    (``_qs_local_rows``) so query_batch can collapse an all-local batch
    into ONE local frame instead of a 64-way union (r12: the union's 64
    one-row tasks plus 64 createDataFrame roundtrips measured ~1.4s of
    the default fused batch's 2.9s)."""
    from qdrant_spark.session import local_df

    df = local_df(spark, rows, schema)
    if not df.isLocal():  # arrow-rejected shape: keep the 1-slice RDD
        df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
                                   schema)
    df._qs_local_rows = [tuple(r) for r in rows]
    return df


def _quant_scan_setup(qh, metric: str, Qraw):
    """Per-kind shared-scan pieces for a batched quantized group: a
    ``prep`` hook deriving the scan frame from the codes table (turbo
    packs its three columns into one struct), the scanned column, the
    Arrow decode hook producing the matrix whose ``scan_metric`` scoring
    equals the kind's single-request coarse quantity, and the (possibly
    re-encoded) query matrix. Scalar decodes the int8 affine; product
    reconstructs x_hat (ADC decomposes exactly); binary unpacks words to
    ±1 so the dot IS ``ext_dim - 2*hamming`` (the XOR scan's order and
    rescore=False scale); turbo rebuilds the renormed rotated
    reconstruction (manhattan un-rotates — the reference's L1 slow
    path, mod.rs:110-112)."""
    import numpy as np

    idx = qh.index
    Q = Qraw
    scan_metric = metric
    prep = lambda f: f  # noqa: E731
    if qh.kind == "scalar":
        lo, scale = idx.lo, (idx.hi - idx.lo) / 255.0

        def dec(vec, n, lo=lo, scale=scale):
            import pyarrow as pa

            if isinstance(vec, pa.ChunkedArray):
                vec = vec.combine_chunks()
            flat = vec.flatten().to_numpy(zero_copy_only=False)
            M = flat.reshape(n, len(lo)).astype(np.float64)
            return (M + 128.0) * scale + lo

        code_col = "__sq"
    elif qh.kind == "product":
        cb = idx.codebooks  # (M, K, dsub)

        def dec(vec, n, cb=cb):
            import pyarrow as pa

            if isinstance(vec, pa.ChunkedArray):
                vec = vec.combine_chunks()
            flat = vec.flatten().to_numpy(zero_copy_only=False)
            codes = (flat.reshape(n, cb.shape[0]).astype(np.int16)
                     + 128)
            return np.concatenate(
                [cb[m][codes[:, m]] for m in range(cb.shape[0])],
                axis=1)

        code_col = "__pq"
    elif qh.kind == "binary":
        from qdrant_spark.operators.quantize import (
            _BQ_QUERY_BITS, _bq_ext_dim, bq_query_bits,
            bq_scalar_query_codes,
        )

        ext_dim = _bq_ext_dim(len(idx.means), idx.encoding)
        if idx.query_encoding in _BQ_QUERY_BITS:
            # asymmetric query encoding: with query rows (2q - R)/R the
            # ±1-bit dot equals ext_dim - 2*xor/ranges — the single-
            # request asym path's exact rescore=False scale
            rows = []
            for q in Qraw:
                codes, ranges = bq_scalar_query_codes(idx, q)
                rows.append((2.0 * codes - ranges) / ranges)
            Q = np.asarray(rows, dtype=np.float64)
        else:
            Q = np.asarray([bq_query_bits(idx, q) for q in Qraw],
                           dtype=np.float64) * 2.0 - 1.0
        scan_metric = "dot"

        def dec(vec, n, ext_dim=ext_dim):
            import pyarrow as pa

            if isinstance(vec, pa.ChunkedArray):
                vec = vec.combine_chunks()
            W = vec.flatten().to_numpy(zero_copy_only=False) \
                .astype(np.int64).reshape(n, -1).view(np.uint64)
            bits = np.empty((n, ext_dim), dtype=np.float64)
            col = 0
            for w in range(W.shape[1]):
                nb = min(64, ext_dim - col)
                sh = np.arange(nb - 1, -1, -1, dtype=np.uint64)
                bits[:, col:col + nb] = \
                    ((W[:, w:w + 1] >> sh) & np.uint64(1))
                col += nb
            return bits * 2.0 - 1.0

        code_col = "__bq"
    else:  # turbo
        from qdrant_spark.operators.quantize import (
            _TQ_CENTROIDS, _tq_rotate, _tq_rotation_params, _tq_unpack,
            _tq_unrotate,
        )

        bpc = idx.bits_per_code
        cents = _TQ_CENTROIDS[bpc]
        pd_, dim_, seed_ = idx.padded_dim, idx.dim, idx.seed
        params = _tq_rotation_params(pd_, seed_)
        ecs, ecsh = idx.ec_scale, idx.ec_shift
        if metric != "manhattan":
            Qpad = np.zeros((len(Qraw), pd_), dtype=np.float64)
            Qpad[:, :dim_] = Qraw
            Q = _tq_rotate(Qpad, params)

        def dec(vec, n, cents=cents, params=params):
            import pyarrow as pa

            if isinstance(vec, pa.ChunkedArray):
                vec = vec.combine_chunks()
            raw = np.frombuffer(
                b"".join(vec.field("__tq").to_pylist()),
                dtype=np.uint8).reshape(n, -1)
            l2 = vec.field("__tq_l2").to_numpy(zero_copy_only=False)
            cn = np.maximum(
                vec.field("__tq_cn").to_numpy(zero_copy_only=False),
                1e-12)
            C = cents[_tq_unpack(raw, bpc, pd_)]
            if ecs is not None:
                C = C * ecs + ecsh
            X = C * (l2 / cn)[:, None]
            if metric == "manhattan":
                return _tq_unrotate(X, params)[:, :dim_]
            return X

        prep = lambda f: f.withColumn(  # noqa: E731
            "__tqz", F.struct("__tq", "__tq_l2", "__tq_cn"))
        code_col = "__tqz"
    return prep, code_col, dec, Q, scan_metric


def _quant_batch_params(planner, requests, idxs, qh):
    """Per-request (k, coarse width, rescore?) for a quantized batch
    group — the same arithmetic as the single-request leaf."""
    import numpy as np

    ks, cs, rescores = {}, {}, {}
    for i in idxs:
        req = requests[i]
        qp = (req.get("params") or {}).get("quantization") or {}
        ks[i] = int(req.get("limit", DEFAULT_LIMIT)) \
            + int(req.get("offset", 0))
        over = float(qp.get("oversampling", qh.oversampling))
        cs[i] = max(ks[i], int(np.ceil(ks[i] * over)))
        rescores[i] = qp.get("rescore") is not False
    return ks, cs, rescores


def _finish_quant_group(planner, requests, idxs, outs, qh, metric,
                        ks, rescores, by_req) -> None:
    """Shared tail of the batched quantized paths: per-request cut to
    k = limit+offset, rescore the union of candidates with ONE
    pair-scored job, apply score_threshold in the direction of the
    returned score scale, slice offset/limit — value-identical to the
    single-request leaf's post-processing."""
    from pyspark.sql import types as T

    from qdrant_spark.operators.knn import (
        larger_is_better, rowwise_score_topk,
    )

    idx = qh.index
    spark = planner.points.sparkSession
    id_type = planner.points.schema[planner.id_col].dataType
    schema = T.StructType([
        T.StructField(planner.id_col, id_type),
        T.StructField("score", T.DoubleType()),
    ])
    larger = larger_is_better(metric)

    def finish(i: int, hits: list) -> None:
        req = requests[i]
        # the single-request plan cuts to k = limit+offset BEFORE the
        # threshold filter (quant_search(k=...) then the leaf filter)
        hits = hits[:ks[i]]
        thr = req.get("score_threshold")
        if thr is not None:
            # binary coarse scores (rescore=False) are the ±1-dot
            # estimate — larger-better whatever the metric, same
            # direction rule as the single-request leaf
            lg = (True if not rescores[i] and qh.kind == "binary"
                  else larger)
            keep = (lambda s: s > float(thr)) if lg \
                else (lambda s: s < float(thr))
            hits = [h for h in hits if keep(h[1])]
        off = int(req.get("offset", 0))
        lim = int(req.get("limit", DEFAULT_LIMIT))
        outs[i] = _local_result_df(spark, hits[off:off + lim], schema)

    need_rescore = [i for i in idxs if rescores[i]]
    if need_rescore:
        from qdrant_spark.session import local_df

        pairs = local_df(
            spark,
            [(int(i), h[0]) for i in need_rescore
             for h in by_req[i]],
            T.StructType([T.StructField("__qid", T.LongType()),
                          T.StructField(idx.id_col, id_type)]))
        full = idx.full if idx.full is not None else qh.codes_frame()
        qdf = local_df(
            spark,
            [(int(i), [float(x) for x in requests[i]["query"]["nearest"]])
             for i in need_rescore],
            "__qid long, __qvec array<double>")
        joined = (full.select(idx.id_col, idx.vec_col)
                  .join(F.broadcast(pairs), idx.id_col)
                  .join(F.broadcast(qdf), "__qid"))
        scored = rowwise_score_topk(
            joined, metric=metric, k=max(ks[i] for i in need_rescore),
            qid_col="__qid", id_col=idx.id_col, vec_col=idx.vec_col,
            qvec_col="__qvec")
        rows = scored.collect()
        exact: dict[int, list] = {i: [] for i in need_rescore}
        for r in sorted(rows, key=lambda r: (r["__qid"], r["rank"])):
            exact[r["__qid"]].append((r[idx.id_col], float(r["score"])))
        for i in need_rescore:
            finish(i, exact[i])
    for i in idxs:
        if not rescores[i]:
            finish(i, by_req[i])


def _avg_recommend_merged(r: dict[str, Any]) -> list[float] | None:
    """Merged avg_vector query for a recommend node whose examples are
    ALL literal flat dense vectors — the driver-side half of the
    reference's reduction (recommendations.rs recommend_by_avg_vector:
    avg(pos) or avg(pos) + (avg(pos) - avg(neg))). Returns None when any
    example is an id reference / sparse / multivector — those need
    leaf-side resolution and root-filter exclusion."""
    import numpy as np

    if r.get("strategy", "average_vector") != "average_vector" \
            or not r.get("positive"):
        return None
    pos_in, neg_in = r.get("positive") or [], r.get("negative") or []
    for t in [*pos_in, *neg_in]:
        if not (isinstance(t, (list, tuple)) and t
                and not isinstance(t[0], (list, tuple, dict))):
            return None
    try:
        pos = np.asarray(pos_in, dtype=np.float64)
        neg = np.asarray(neg_in, dtype=np.float64)
    except ValueError:
        return None
    if pos.ndim != 2 or (neg.size and neg.ndim != 2):
        return None
    avg_pos = pos.mean(axis=0)
    merged = avg_pos if neg.size == 0 \
        else avg_pos + avg_pos - neg.mean(axis=0)
    return [float(x) for x in merged]


def _quant_batch_eligible(planner, requests, outs):
    """(request index, vec_col) pairs of unfiltered single-leaf dense
    nearest requests on a quantized column — the shared eligibility test
    of both batched quantized paths."""
    for i, req in enumerate(requests):
        if outs[i] is not None or req.get("prefetch") \
                or req.get("shard_key") is not None \
                or req.get("filter") is not None:
            continue
        q = req.get("query")
        if not (isinstance(q, dict) and isinstance(q.get("nearest"),
                                                   (list, tuple))):
            continue
        t = q["nearest"]
        if not t or isinstance(t[0], (list, tuple)):
            continue  # multivector
        vc = req.get("using", planner.default_vec_col)
        qp = (req.get("params") or {}).get("quantization") or {}
        if qp.get("ignore") or planner._leaf_exact(req):
            continue
        if not planner._quant_crossover_ok(vc, batch=True):
            # below the exact-vs-quantized corpus crossover the whole
            # quant family stands down; these requests joined the exact
            # fused matmul group in _fusable_leaf (or plan exact alone),
            # mirroring _batch_maxsim_quant's full_scan_threshold guard
            continue
        yield i, vc


def _batch_quant_indexed(planner: "QueryPlanner",
                         requests: list[dict[str, Any]],
                         outs: list) -> None:
    """Batch-side quantized grouping: unfiltered single-leaf dense
    nearest requests on a quantized column — ALL FOUR kinds since r11 —
    are answered by ONE coarse Arrow scan over the codes (all queries
    score per batch via the block matmul, per-kind decode in
    :func:`_quant_scan_setup`) plus ONE pair-scored rescore over the
    union of candidate floats — value-identical per request to planning
    each alone (per-request oversampling, rescore, score_threshold,
    offset and limit applied after the shared scans). The quantized twin
    of :func:`_batch_sparse_indexed`; the reference's batch dispatch
    walks quantized storage once for the whole batch the same way
    (lib/segment/src/vector_storage/quantized/). Requests with filters /
    exact / shard routing / ignore keep their own plan; columns with a
    cluster structure batch through :func:`_batch_quant_ivf_indexed`
    instead."""
    import numpy as np

    groups: dict[str, list[int]] = {}
    for i, vc in _quant_batch_eligible(planner, requests, outs):
        if planner.quant_indexes.get(vc) is None \
                or planner._ivf_for(vc) is not None \
                or planner.quant_ivf_indexes.get(vc) is not None:
            continue
        groups.setdefault(vc, []).append(i)

    for vc, idxs in groups.items():
        if len(idxs) < 2:
            continue
        qh = planner.quant_indexes[vc]
        metric = planner.metric_for(vc)
        ks, cs, rescores = _quant_batch_params(planner, requests, idxs, qh)
        if len(idxs) * max(cs.values()) > planner.fused_collect_max:
            continue
        from qdrant_spark.operators.knn import _matmul_knn

        idx = qh.index
        Qraw = np.asarray(
            [[float(x) for x in requests[i]["query"]["nearest"]]
             for i in idxs])
        prep, code_col, dec, Q, scan_metric = _quant_scan_setup(
            qh, metric, Qraw)
        coarse = _matmul_knn(
            prep(qh.codes_frame()), None, metric=scan_metric,
            k=max(cs.values()),
            vec_col=code_col, id_col=idx.id_col, qid_col="__qid",
            qvec_col="__qvec", score_threshold=None,
            q_data=(idxs, Q), vec_decode=dec,
        ).collect()
        planner.last_plan_info["quant_batch_groups"] = \
            planner.last_plan_info.get("quant_batch_groups", 0) + 1
        by_req: dict[int, list] = {i: [] for i in idxs}
        for r in coarse:  # already ranked (score dir, id) per query
            if r["rank"] <= cs[r["__qid"]]:
                by_req[r["__qid"]].append((r[idx.id_col],
                                           float(r["score"])))
        _finish_quant_group(planner, requests, idxs, outs, qh, metric,
                            ks, rescores, by_req)


def _batch_quant_ivf_indexed(planner: "QueryPlanner",
                             requests: list[dict[str, Any]],
                             outs: list) -> None:
    """Batched COMPOSED quantized search (r11): unfiltered dense nearest
    requests on a column with both cluster and code structure are
    answered by ONE cluster-masked coarse scan over the probed union of
    the (id, __cluster, code) frame — each query scored only inside ITS
    probed clusters, so candidates equal the per-request composed plan —
    plus the shared pair-scored rescore. The reference batches quantized
    search through one storage walk with the graph doing the pruning;
    here partition pruning covers the probe union and the mask keeps
    per-query semantics exact."""
    import numpy as np

    groups: dict[str, list[int]] = {}
    for i, vc in _quant_batch_eligible(planner, requests, outs):
        qih = planner.quant_ivf_indexes.get(vc)
        qh = planner.quant_indexes.get(vc)
        ivf = planner._ivf_for(vc)
        if qih is None and (qh is None or ivf is None):
            continue
        groups.setdefault(vc, []).append(i)

    for vc, idxs in groups.items():
        if len(idxs) < 2:
            continue
        qh = planner.quant_indexes.get(vc)
        qih = planner.quant_ivf_indexes.get(vc)
        if qih is None:
            qih = planner._quant_ivf_for(vc, qh, planner._ivf_for(vc))
        if qh is None:
            qh = qih.handle
        metric = planner.metric_for(vc)
        ks, cs, rescores = _quant_batch_params(planner, requests, idxs, qh)
        if len(idxs) * max(cs.values()) > planner.fused_collect_max:
            continue
        Qraw = np.asarray(
            [[float(x) for x in requests[i]["query"]["nearest"]]
             for i in idxs])
        prep, code_col, dec, Q, scan_metric = _quant_scan_setup(
            qh, metric, Qraw)
        # per-query probes in RAW vector space (same argsort as the
        # single-request quant_ivf_search), masks keyed by cluster
        d = ((Qraw[:, None, :] - qih.centroids[None, :, :]) ** 2).sum(axis=2)
        probes = np.argsort(d, axis=1)[:, :qih.nprobe]
        used = sorted({int(c) for row in probes for c in row})
        cluster_q = {int(c): np.where((probes == c).any(axis=1))[0]
                     for c in used}
        pruned = prep(qih.coded.filter(F.col("__cluster").isin(used)))
        from qdrant_spark.operators import ann

        coarse = ann.cluster_masked_topk(
            pruned, vec_col=code_col, id_col=qih.id_col, qids=idxs,
            Q=Q, cluster_q=cluster_q, k=max(cs.values()),
            metric=scan_metric, vec_decode=dec,
        ).collect()
        planner.last_plan_info["quant_ivf_batch_groups"] = \
            planner.last_plan_info.get("quant_ivf_batch_groups", 0) + 1
        by_req: dict[int, list] = {i: [] for i in idxs}
        for r in coarse:
            if r["rank"] <= cs[r["__qid"]]:
                by_req[r["__qid"]].append((r[qih.id_col],
                                           float(r["score"])))
        _finish_quant_group(planner, requests, idxs, outs, qh, metric,
                            ks, rescores, by_req)


def query_batch(
    points: DataFrame,
    requests: list[dict[str, Any]],
    *,
    id_col: str = "id",
    vec_col: str = "vec",
    metric: str = "cosine",
    collections: dict[str, DataFrame] | None = None,
    fuse_min_bytes: int | None = None,
    metrics: dict[str, str] | None = None,
    sparse_indexes: dict[str, Any] | None = None,
    ivf_index=None,
    ivf_indexes: dict[str, Any] | None = None,
    quant_indexes: dict[str, Any] | None = None,
    maxsim_indexes: dict[str, Any] | None = None,
    quant_ivf_indexes: dict[str, Any] | None = None,
    maxsim_sq_indexes: dict[str, Any] | None = None,
) -> DataFrame:
    """Batch universal query (``POST /collections/{c}/points/query/batch``,
    reference src/actix/api/query_api.rs; per-request independence as in
    ``Collection::query_batch``): plan each request against the same corpus
    and union the results tagged with ``request_idx``.

    Requests may differ arbitrarily (prefetch trees, filters, fusion), so
    each compiles to its own sub-plan — EXCEPT homogeneous dense-nearest
    requests sharing (filter, vector column), which are auto-batched into
    ONE ``knn_batch`` corpus scan (the reference's batch dispatch
    special-cases exactly this, dispatch.rs batch path / the PlannedQuery
    leaf merge), and unfiltered sparse-nearest requests on an indexed
    column, which are answered by ONE inverted-index scan
    (:func:`_batch_sparse_indexed`), and unfiltered dense requests on a
    scalar-quantized column, answered by ONE coarse code scan + ONE pair
    rescore (:func:`_batch_quant_indexed`). Requests carrying a ``shard_key``
    selector route to their shard's partition directories before
    planning. Per-request limit/offset/score_threshold are preserved;
    the batched leg results are value-identical to planning each request
    alone.

    Like :func:`universal_query`, if any request engages the fused
    DataFrame fallback the whole batch result is materialized eagerly
    (≤ ``sum(limit_i)`` rows collected, returned as a local snapshot
    DataFrame that does not recompute against later ``points``
    mutations); otherwise the result is lazy as usual."""
    from functools import reduce

    planner = QueryPlanner(
        points, id_col=id_col, default_vec_col=vec_col, metric=metric,
        collections=collections, fuse_min_bytes=fuse_min_bytes,
        metrics=metrics, sparse_indexes=sparse_indexes,
        ivf_index=ivf_index, ivf_indexes=ivf_indexes,
        quant_indexes=quant_indexes, maxsim_indexes=maxsim_indexes,
        quant_ivf_indexes=quant_ivf_indexes,
        maxsim_sq_indexes=maxsim_sq_indexes,
    )
    if not requests:
        raise ValueError("empty request batch")

    # avg_vector recommends whose examples are all literal dense vectors
    # reduce to plain nearest requests BEFORE grouping, so they join the
    # fused / indexed batch paths (the reference's batch dispatch sees
    # them as core searches after the same reduction,
    # recommendations.rs); id-referenced examples keep their own plan —
    # the leaf rewrite handles resolution + exclusion
    requests = list(requests)
    for i, req in enumerate(requests):
        q = req.get("query")
        if isinstance(q, dict) and isinstance(q.get("recommend"), dict):
            merged = _avg_recommend_merged(q["recommend"])
            if merged is not None:
                requests[i] = {**req, "query": {"nearest": merged}}

    # group fusable single-leaf nearest requests by (vec_col, filter) —
    # same size dispatch as prefetch fusion (small corpora plan lazily)
    planner._vec_cache = planner._batch_resolve_ids({"prefetch": list(requests)})
    groups: dict[tuple, list[int]] = {}
    if planner._fusion_worthwhile():
        for i, req in enumerate(requests):
            key = planner._fusable_leaf(req)
            if key is not None:
                groups.setdefault(key, []).append(i)
    outs: list = [None] * len(requests)
    for key, idxs in groups.items():
        if len(idxs) < 2:
            continue
        legs = planner._fused_leaves([requests[i] for i in idxs], key[0],
                                     as_rows=True)
        for i, df in zip(idxs, legs):
            outs[i] = df
        planner.last_plan_info["fused_groups"] += 1
        planner.last_plan_info["fused_legs"] += len(idxs)
    _batch_sparse_indexed(planner, requests, outs)
    _batch_quant_indexed(planner, requests, outs)
    _batch_quant_ivf_indexed(planner, requests, outs)
    _batch_maxsim_quant_ivf(planner, requests, outs)
    _batch_maxsim_quant(planner, requests, outs)
    _batch_maxsim_exact(planner, requests, outs)
    # stash fallback persists from the fused legs: the per-request plan()
    # calls below free planner._fused_persisted at entry, which would
    # evict the shared scan before the batch union materializes
    fused_persists = planner._fused_persisted
    planner._fused_persisted = []
    for i, req in enumerate(requests):
        if outs[i] is None:
            if req.get("shard_key") is not None:
                # per-request shard routing (ShardKeySelector on batch
                # requests, shard_holder resolves it above the per-shard
                # query): the sub-plan runs against the selected
                # partition directories only; whole-corpus indexes are
                # bypassed — they would leak other shards' points
                from qdrant_spark.operators.sharding import select_shards

                sub = {k: v for k, v in req.items() if k != "shard_key"}
                saved = (planner.points, planner.ivf_index,
                         planner.ivf_indexes, planner.sparse_indexes,
                         planner.quant_indexes, planner.maxsim_indexes,
                         planner.quant_ivf_indexes,
                         planner.maxsim_sq_indexes)
                planner.points = select_shards(
                    points, req["shard_key"], col="shard_key")
                planner.ivf_index = None
                planner.ivf_indexes = {}
                planner.sparse_indexes = {}
                # whole-corpus quant/maxsim/composed indexes would leak
                # other shards' points the same way IVF would
                planner.quant_indexes = {}
                planner.maxsim_indexes = {}
                planner.quant_ivf_indexes = {}
                planner.maxsim_sq_indexes = {}
                try:
                    outs[i] = planner.plan(sub)
                finally:
                    (planner.points, planner.ivf_index,
                     planner.ivf_indexes, planner.sparse_indexes,
                     planner.quant_indexes, planner.maxsim_indexes,
                     planner.quant_ivf_indexes,
                     planner.maxsim_sq_indexes) = saved
            else:
                outs[i] = planner.plan(req)
            # a per-request plan() can itself hit the fused DataFrame
            # fallback; move its persists into the stash immediately or
            # the NEXT plan() call unpersists them at entry — before the
            # batch union materializes — silently re-running the shared
            # scan per leg at collect
            fused_persists.extend(planner._fused_persisted)
            planner._fused_persisted = []
    planner._fused_persisted.extend(fused_persists)
    spark = planner.points.sparkSession

    def _leg_local(o):
        """(column names, schema, rows) when the leg is driver-local."""
        if isinstance(o, _RowsLeg):
            return (tuple(f.name for f in o.schema.fields), o.schema,
                    o.rows)
        rows = getattr(o, "_qs_local_rows", None)
        if rows is None:
            return None
        return (tuple(o.columns), o.schema, rows)

    locals_ = [_leg_local(o) for o in outs]
    if all(loc is not None for loc in locals_) \
            and len({loc[0] for loc in locals_}) == 1:
        # every leg is a bounded driver-side result with one shared
        # schema: emit ONE single-partition local frame instead of a
        # per-leg createDataFrame + N-way union (r12: the union's 64
        # one-row tasks + 64 createDataFrame roundtrips measured ~1.4s
        # of the 64-request fused batch's 2.9s)
        from pyspark.sql import types as T

        base_schema = locals_[0][1]
        schema = T.StructType(
            [T.StructField("request_idx", T.LongType())]
            + list(base_schema.fields))
        data = [(i, *tuple(r)) for i, loc in enumerate(locals_)
                for r in loc[2]]
        return _release_one_shot(
            planner, _local_result_df(spark, data, schema))
    tagged = [(df if not isinstance(df, _RowsLeg)
               else _local_result_df(spark, df.rows, df.schema))
              for df in outs]
    tagged = [df.withColumn("request_idx", F.lit(i))
              for i, df in enumerate(tagged)]
    out = reduce(lambda a, b: a.unionByName(b), tagged) \
        .select("request_idx", *(c for c in tagged[0].columns if c != "request_idx"))
    return _release_one_shot(planner, out)
