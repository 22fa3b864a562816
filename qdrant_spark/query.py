"""Universal Query API: prefetch-tree planner -> DataFrame pipeline.

Reference: the flagship ``POST /collections/{c}/points/query`` path —
``CollectionQueryRequest`` (lib/collection/src/operations/universal_query/
collection_query.rs:34-106), ``ShardPrefetch`` (lib/shard/src/query/
mod.rs:75-108), and ``PlannedQuery`` (lib/shard/src/query/planned_query.rs:
17-112): an arbitrary-depth tree where each node is (filter, query, limit);
leaves run search/scroll, parents re-score or merge their children.
Max depth 64 (planned_query.rs).

Spark mapping: every node compiles to a DataFrame of (id, score) — leaves
are KNN/sparse/scroll plans, parents compose child DataFrames (rescore
joins, MMR). The reference's shard-level vs collection-level rescore
distinction (RescoreStages) disappears: each child is already a global
top-k, and a fusion root reads those bounded lists on the driver and
fuses them rank by rank, which is exactly the semantics the reference
engineers for.

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

#: Corpus-size cutoff (Catalyst plan stats) below which exact dense
#: fusion (query_batch requests and prefetch siblings) is NOT worth it:
#: the fused path adds fixed job round-trips, which only pay off once
#: one SAVED corpus scan costs more than that. Measured on local[32]: a
#: 2k-row cached corpus is ~1.3s WORSE fused (fixed overhead, nothing saved); a
#: 512k-row parquet corpus saves a full ~1s scan per extra leg. NOTE the
#: stat is COMPRESSED scan bytes for file sources (parquet compresses
#: float vectors 2-6x), so the cutoff sits well below the raw-bytes
#: crossover. Same dispatch pattern as knn.ARROW_DISPATCH_BYTES.
FUSE_MIN_BYTES = 32 << 20

#: Row ceiling for what a fused group collects to the driver. A group
#: whose legs * max(offset+limit) exceeds it declines, and its legs plan
#: one request at a time. Within it, the kernel's per-partition
#: candidates (scan partitions * legs * k rows) merge on the driver while
#: they fit under it too, else the ranked shuffle finish collects only
#: the final top-k. The same bound serves both because both are
#: (qid, id, score) rows on the driver, at most 24 B each: 100 000 rows
#: are <= 2.4 MB of Arrow, and the merge (one lexsort plus a few
#: same-length NumPy arrays) stays under ~10 MB, far below a driver heap.
#: The number is that budget, not a measured memory limit; no benchmark
#: workload reaches the ranked side (bulk_knn: its 8 files pack into 4
#: scan partitions, 4 x 64 x 10 = 2 560 candidate rows).
FUSED_COLLECT_MAX = 100_000

#: Candidate oversampling of a grouped query: it plans the top
#: ``groups * group_size * GROUP_OVERSAMPLE`` hits and groups those (the
#: reference refills underfilled groups with follow-up searches instead).
GROUP_OVERSAMPLE = 4


def merge_filters(a: dict | None, b: dict | None) -> dict | None:
    """``Filter::merge`` — AND of two filter objects. A Filter is itself a
    valid Condition (Condition::Filter, types.rs:3981), so the merge is one
    must-list of the two."""
    if not a:
        return b or None
    if not b:
        return a
    return {"must": [a, b]}


class _Route(NamedTuple):
    """A ``nearest`` leaf's route (see :meth:`QueryPlanner._route`):
    the kind, the vector column, the index handles the kind runs on and
    the target with point-id references resolved."""

    kind: str
    vec_col: str
    handles: tuple
    target: Any


class _Hits(NamedTuple):
    """A bounded finish held on the driver: ``rows`` of ``schema`` (id and
    score first, then any carried columns), best first in the score
    direction ``larger`` (True = score desc, False = score asc, None = a
    batch of several requests), ties id asc. Fused batch groups, fusion
    roots and query_batch's all-local collapse return one. At the public
    boundary it is the rows of a lazy frame (:meth:`QueryPlanner._frame`);
    it becomes a JVM frame only through :func:`_local_result_df`, where
    a caller uses the frame for more than its rows."""

    schema: Any
    rows: list
    larger: bool | None

    @property
    def columns(self) -> list[str]:
        return self.schema.fieldNames()

    def collect(self) -> list:
        """The rows as :class:`~pyspark.sql.Row` s, as a frame's
        ``collect()`` returns them, without a job."""
        from pyspark.sql import Row

        row = Row(*self.columns)
        return [row(*r) for r in self.rows]


def _crossover_ok(handle, default: int, corpus: DataFrame) -> bool:
    """Exact-vs-indexed corpus-size dispatch of a declared route: the
    coarse / pruned plans pay a second candidate scan that only wins past
    the page-cache scale, so below the handle's ``full_scan_threshold``
    (None = ``default``) the planner takes the exact scan; 0 pins the
    indexed route. ``n_docs`` caches ``corpus.count()`` on the handle (a
    metadata-only parquet count), so each handle counts at most once."""
    thr = default if handle.full_scan_threshold is None \
        else handle.full_scan_threshold
    if not thr:
        return True
    if handle.n_docs is None:
        handle.n_docs = corpus.count()
    return handle.n_docs >= thr


class QueryPlanner:
    """Compiles a universal-query request against a points DataFrame.

    ``collections`` is an optional name -> DataFrame registry so
    ``lookup_from`` can reference another collection by name
    (LookupLocation {collection, vector}, collection_query.rs:147-152).

    ``indexes`` maps a vector COLUMN to the list of index handles built
    over it — the declared indexes every ``nearest`` leaf on that column
    routes through (see :meth:`_route`):

    - ``ann.IvfIndex``: dense leaves run the selectivity-aware dispatcher
      (operators/dispatch.auto_search — the reference runs EVERY search
      through its query_estimator the same way); ``full_scan_threshold``
      overrides its plain-vs-index crossover;
    - ``sparse.SparseIndex``: sparse leaves search its posting lists
      (dim-bucket PartitionFilters on a persisted index) instead of
      re-exploding the corpus's sparse columns — the reference ALWAYS
      searches sparse through its inverted index
      (lib/sparse/src/index/search_context.rs:37-91);
    - ``quantize.QuantHandle``: dense leaves run the coarse+rescore plan,
      per-request tunable via SearchParams.quantization {ignore, rescore,
      oversampling} (types.rs:573-628);
    - ``quantize.QuantIvfHandle``: persisted cluster-partitioned codes;
      dense leaves probe clusters -> score codes -> exact-rescore, the
      reference's quantized-HNSW shape. A column with both an IVF and a
      quantized handle but no composed one composes lazily on first use;
    - ``multivec.MaxSimRoute``: MaxSim leaves run the token-level-IVF
      pruned plan (multivector_hnsw_test.rs);
    - ``multivec.MaxSimSq`` / ``MaxSimBq`` / ``MaxSimPq`` / ``MaxSimTq``:
      MaxSim leaves run coarse-over-token-codes + exact rescore.

    ``fuse_min_bytes`` (default :data:`FUSE_MIN_BYTES`) is the corpus
    size from which exact dense requests sharing a filter share one scan
    (:meth:`_fused_leaves`); query_batch requests and prefetch siblings
    group through the same :func:`_fuse_batch`. Every fusion root
    finishes on the driver (:meth:`_fuse_root`). Between plans a caller
    sets :attr:`carry` and :attr:`emit_rank` and reads
    :attr:`last_plan_info`, :attr:`last_plan_direction` and
    :attr:`last_plan_rank_col`; each is documented where ``__init__``
    sets it. A planner holds no Spark
    resources, so there is nothing to release after a plan."""

    def __init__(self, points: DataFrame, *, id_col: str = "id",
                 default_vec_col: str = "vec", metric: str = "cosine",
                 collections: dict[str, DataFrame] | None = None,
                 indexes: dict[str, list] | None = None,
                 full_scan_threshold: int | None = None,
                 fuse_min_bytes: int | None = None,
                 text_params: dict[str, dict[str, Any]] | None = None,
                 metrics: dict[str, str] | None = None):
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
        #: vec column -> {route kind: handle}, sorted from ``indexes``.
        #: BM25 text search has no universal-query leaf (qdrant models
        #: it as client-side sparse vectors), so Bm25Index stays
        #: operator-level (sparse.bm25_search_index).
        self.indexes = {vc: self._sort_handles(vc, hs)
                        for vc, hs in (indexes or {}).items()}
        self.collections = collections or {}
        self._self_refs: set = set()
        # per-field TextIndexParams honored by full-text filter conditions
        # (the declared-text-index analogue; see filters.filter_column).
        # Leaves with a filter pre-apply it against the corpus so the
        # params reach the tokenizer; such leaves skip ANN dispatch and
        # shared-scan fusion (both key on the raw filter dict).
        self.text_params = text_params or {}
        self._vec_cache: dict[tuple, list] = {}
        self.full_scan_threshold = full_scan_threshold
        self._index_totals: dict[str, int] = {}
        #: diagnostics from the last plan(): how many exact dense groups
        #: and legs shared one scan, the other batch groups' counters
        #: (see _BATCH_GROUPS) and whether the fusion root read every leg
        #: without a collect (``driver_fused_root``, see _fuse_root)
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
        #: columns of ``points`` the caller reads for each hit (payload,
        #: vectors, version). The exact dense, sparse, scroll, order_by
        #: and sample leaves carry them through their top-k when they are
        #: the root or a leg of a driver-side fusion root, as do MMR roots
        #: and driver-side fusion roots over carrying legs; the root's
        #: result then holds them beside (id, score). Other routes return
        #: (id, score) only, so a caller checks the result's columns.
        self.carry: tuple[str, ...] = ()
        self.fuse_min_bytes = (FUSE_MIN_BYTES if fuse_min_bytes is None
                               else fuse_min_bytes)
        self._fuse_ok: bool | None = None

    # -- public ------------------------------------------------------------

    def _sort_handles(self, vec_col: str, handles: list) -> dict[str, Any]:
        """One column's index handles keyed by the route kind each one
        serves. Raises ValueError on an unknown handle type, on two
        handles of one kind, and on a handle keyed by another id column
        than the planner's."""
        from qdrant_spark.operators.ann import IvfIndex
        from qdrant_spark.operators.multivec import (
            MaxSimBq, MaxSimPq, MaxSimRoute, MaxSimSq, MaxSimTq,
        )
        from qdrant_spark.operators.quantize import QuantHandle, QuantIvfHandle
        from qdrant_spark.operators.sparse import SparseIndex

        kinds = ((IvfIndex, "ivf"), (SparseIndex, "sparse"),
                 (QuantHandle, "quant"), (QuantIvfHandle, "quant_ivf"),
                 (MaxSimRoute, "maxsim"),
                 ((MaxSimSq, MaxSimBq, MaxSimPq, MaxSimTq), "maxsim_sq"))
        out: dict[str, Any] = {}
        for h in handles:
            kind = next((k for t, k in kinds if isinstance(h, t)), None)
            name = type(h).__name__
            if kind is None:
                raise ValueError(
                    f"indexes[{vec_col!r}]: unsupported index handle {name}")
            if kind in out:
                raise ValueError(f"indexes[{vec_col!r}]: two {name} handles")
            if kind in ("ivf", "quant", "maxsim") \
                    and h.id_col != self.id_col:
                raise ValueError(
                    f"indexes[{vec_col!r}]: {name}.id_col must match the "
                    f"planner id_col")
            out[kind] = h
        return out

    def _bump(self, key: str, n: int = 1) -> None:
        """Add ``n`` to a ``last_plan_info`` counter."""
        self.last_plan_info[key] = self.last_plan_info.get(key, 0) + n

    def _hit_schema(self):
        """(id, score) schema of a driver-side result frame."""
        from pyspark.sql import types as T

        return T.StructType([
            T.StructField(self.id_col,
                          self.points.schema[self.id_col].dataType),
            T.StructField("score", T.DoubleType()),
        ])

    def metric_for(self, vec_col: str | None) -> str:
        """Distance for a given vector COLUMN (not qdrant vector name):
        the per-column override when declared, else the planner default."""
        if vec_col is None:
            return self.metric
        return self.metrics.get(vec_col, self.metric)

    def plan(self, request: dict[str, Any]) -> DataFrame:
        """Returns (id, score) best-first, limited — followed by the
        :attr:`carry` columns when the root's route carries them. A
        bounded finish held on the driver comes back as a lazy frame
        over its rows (:meth:`_frame`)."""
        return self._frame(self._plan(request))

    def _frame(self, res: DataFrame | _Hits) -> DataFrame:
        """A plan result as a DataFrame. Driver-side hits become a
        :class:`~qdrant_spark.session.LazyFrame` over them: ``collect()``
        returns the hits' rows and ``schema`` / ``columns`` are theirs,
        with no py4j round trip; any other use builds the one local
        frame (:func:`_local_result_df`) on first use, once."""
        if isinstance(res, DataFrame):
            return res
        from qdrant_spark.session import LazyFrame

        spark = self.points.sparkSession
        return LazyFrame(spark, lambda: _local_result_df(spark, res),
                         schema=res.schema, rows=res.collect)

    def _plan(self, request: dict[str, Any]) -> DataFrame | _Hits:
        """:meth:`plan` without the final conversion: a bounded finish
        stays driver-side hits, which the client reads directly."""
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
        # reset ONCE per plan; the batch groups accumulate (+=) so the
        # diagnostics cover every prefetch level of a nested tree, not
        # just the innermost one (r5 ADVICE)
        self.last_plan_info = {"fused_groups": 0, "fused_legs": 0,
                               "driver_fused_root": 0}
        self.last_plan_rank_col = None
        return self._node(request, depth=0, carry=tuple(self.carry))

    def plan_groups(
        self,
        request: dict[str, Any],
        *,
        group_by_field: str,
        groups: int = 10,
        group_size: int = 3,
        oversample: int = GROUP_OVERSAMPLE,
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

        req = dict(request)
        req["limit"] = max(int(req.get("limit", 0) or 0),
                           groups * group_size * oversample)
        scored = self.plan(req)
        lb = self.larger_better(req) if larger_better is None \
            else larger_better
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

    def larger_better(self, request: dict[str, Any]) -> bool:
        """Whether larger scores rank first in the last plan of
        ``request``: the root's recorded direction (per-``using`` metric
        aware), else — MMR and sample roots, ordered only in the plan —
        the metric of the request's vector column."""
        from qdrant_spark.operators.knn import larger_is_better

        if self.last_plan_direction is not None:
            return self.last_plan_direction
        return larger_is_better(
            self.metric_for(request.get("using", self.default_vec_col)))

    # -- internals ----------------------------------------------------------

    def _node(self, req: dict[str, Any], depth: int,
              carry: tuple[str, ...] = ()) -> DataFrame | _Hits:
        """The plan of one request node; ``carry`` (see :attr:`carry`)
        reaches the node's top-k where its route can hold the columns."""
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
            if query is None or "fusion" in query:
                # the legs of a fusion root are read on the driver, so
                # they carry for it (default fusion = rrf)
                out = self._fuse_root(
                    (query or {"fusion": "rrf"})["fusion"],
                    *self._plan_children(children, depth, carry),
                    limit, carry)
            else:
                # every other root re-plans its candidates
                out = self._rescore(query, self._plan_children(
                    children, depth)[0], req, limit, depth=depth,
                    carry=carry)
            # record the root's result-order contract AFTER the recursion
            # (plan() is depth-first: the last assignment is the root's).
            # True/False = result is sortable by (score direction, id
            # asc); None = the order exists only in the plan (MMR pick
            # order, sample hash order, order_by key ordering).
            self.last_plan_direction = self._direction_of(req)
            return out
        out = self._leaf(query, req, limit, depth=depth, carry=carry)
        self.last_plan_direction = self._direction_of(req)
        return out

    def _direction_of(self, req: dict[str, Any]) -> bool | None:
        """Whether the node's output order equals sort-by-(score, id):
        True = score desc, False = score asc, None = not score-ordered.
        Must mirror the ordering each _leaf/_rescore path actually emits
        (knn/_topk: metric direction; sparse dot, MaxSim, discover/
        context, fusion, formula, best_score/sum_scores, binary-quantized
        coarse scores: score desc)."""
        from qdrant_spark.operators.knn import larger_is_better

        query = req.get("query")
        leaf = not req.get("prefetch")
        if query is None:
            # scroll leaf: id asc with score pinned 0.0 — all-ties, so a
            # (score, id asc) sort reproduces it | parent default = rrf
            return False if leaf else True
        metric = self.metric_for(req.get("using", self.default_vec_col))
        if "nearest" in query:
            t = query["nearest"]
            if isinstance(t, dict) and "indices" in t:
                return True  # sparse dot product
            if isinstance(t, (list, tuple)) and t \
                    and isinstance(t[0], (list, tuple)):
                return True  # MaxSim
            if leaf and not _quant_params(req, 0.0)[0]:
                # rescore=false on a binary-quantized route returns the
                # ±1-dot estimate, larger-better whatever the metric
                rt = self._route(req)
                qh = rt.handles[0] if rt.kind == "quant" else (
                    rt.handles[0].handle if rt.kind == "quant_ivf" else None)
                if qh is not None and qh.kind == "binary":
                    return True
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

    # -- shared-scan batch groups -------------------------------------------
    #
    # Sibling leaves that share a route and vector column would each run
    # a full corpus scan; the reference batches exactly these into one
    # leaf-search pass (PlannedQuery merges prefetches into a single
    # batch, lib/shard/src/query/planned_query.rs:17-60). query_batch
    # requests and prefetch siblings group through ONE grouper
    # (_fuse_batch): each group runs one scan per route kind (exact dense:
    # one block-matmul kernel scan of the shared filtered corpus) whose
    # per-partition candidates merge on the driver, and each leg's
    # bounded top-k stays there as driver-side hits (_Hits) in the
    # direction of its scores, for the fusion root or the batch collapse
    # to read without another job.

    @staticmethod
    def _leaf_exact(req: dict[str, Any]) -> bool:
        """params.exact / request-level exact: per-request opt-out of ANN
        routing (the reference honors SearchParams::exact, types.rs)."""
        return bool((req.get("params") or {}).get("exact")
                    or req.get("exact"))

    def _leaf_target(self, req: dict[str, Any]) -> Any:
        """The ``nearest`` target with point-id references resolved: a
        sparse ``{indices, values}`` dict, a dense vector or a
        multivector."""
        target = req["query"]["nearest"]
        if isinstance(target, dict) and "id" in target:
            from pyspark.sql import types as T

            _, src_df, lookup_vc = self._node_lookup(req)
            dt = src_df.schema[lookup_vc].dataType \
                if lookup_vc in src_df.columns else None
            if isinstance(dt, T.StructType) and \
                    {"indices", "values"} <= {f.name for f in dt.fields}:
                # id-referenced SPARSE query: resolve the stored sparse
                # vector and continue as an explicit sparse target
                # (VectorInputInternal::Id resolution, fetch_vectors.rs —
                # without this the [indices, values] pair fell into the
                # multivector branch)
                resolved = self._resolve_vector_input(target, req)
                return {"indices": [int(d) for d in resolved[0]],
                        "values": [float(v) for v in resolved[1]]}
        if isinstance(target, dict) and "indices" in target:
            return target
        return self._resolve_vector_input(target, req)

    def _route(self, req: dict[str, Any], batch: bool = False) -> _Route:
        """The route of a ``nearest`` leaf — the ONE decision both
        :meth:`_leaf` and the query_batch grouper act on (the reference
        picks each search's plan once: query_estimator + threshold
        dispatch, then ``PlannedQuery`` runs it).

        ``params.exact`` opts out of every index and
        ``quantization.ignore`` out of the quantized ones. Each declared
        route stands down below its corpus-size crossover
        (:func:`_crossover_ok`). ``batch=True`` (fused multi-request
        contexts: query_batch groups and prefetch sibling fusion) takes
        the HIGHER dense-quant default — the fused exact matmul
        amortizes one scan across every request, so the quant batch's
        crossover sits far beyond the single leaf's (r12 measurements in
        quantize.py). Leaves whose filter is pre-applied with text
        params skip the quantized and IVF routes."""
        from qdrant_spark.operators.multivec import MAXSIM_FULL_SCAN_THRESHOLD
        from qdrant_spark.operators.quantize import (
            QUANT_BATCH_FULL_SCAN_THRESHOLD, QUANT_FULL_SCAN_THRESHOLD,
        )

        vec_col = req.get("using", self.default_vec_col)
        ix = self.indexes.get(vec_col, {})
        target = self._leaf_target(req)
        exact = self._leaf_exact(req)
        unfiltered = req.get("filter") is None
        pre_filtered = bool(req.get("filter")) and bool(self.text_params)
        ignore = ((req.get("params") or {}).get("quantization")
                  or {}).get("ignore")
        if isinstance(target, dict):  # sparse vector
            sp = ix.get("sparse")
            if sp is not None and not exact:
                return _Route("sparse_index", vec_col, (sp,), target)
            return _Route("sparse", vec_col, (), target)
        if target and isinstance(target[0], (list, tuple)):
            # multivector MaxSim. Filtered requests keep the quantized
            # route (r12): the payload filter reaches the narrow code
            # scan as an id semi-join; the token-IVF route needs an
            # unfiltered request
            sqh, rt = ix.get("maxsim_sq"), ix.get("maxsim")
            use_sq = (sqh is not None and not pre_filtered and not ignore
                      and not exact
                      and _crossover_ok(sqh, MAXSIM_FULL_SCAN_THRESHOLD,
                                        sqh.points))
            use_pruned = (rt is not None and unfiltered and not exact
                          and _crossover_ok(rt, MAXSIM_FULL_SCAN_THRESHOLD,
                                            rt.index.points))
            # pruned-vs-pruned preference (r14): a route carrying the
            # INVLIST layout beats both quantized ladders — reading the
            # probed partitions' floats directly outran the
            # coarse-over-codes plans at every measured size (r13
            # verdict: invlist 0.53 s vs composed 1.83 s vs exact 0.95 s
            # at 2M docs, recall@10 = 1.0; codes only plausibly pay in
            # the cold-IO regime, declarable via
            # MaxSimRoute.prefer_composed)
            if use_sq and use_pruned and (rt.index.clustered_points is None
                                          or rt.prefer_composed):
                # membership degrade (r15, opt-in): when the estimated
                # probe-union membership is ~1 the composed candidate
                # stage prunes nothing — take the quant-only
                # coarse+rescore instead (MaxSimRoute.degrade_membership)
                if rt.degrade_membership is not None:
                    from qdrant_spark.operators.multivec import (
                        maxsim_membership_fraction,
                    )

                    if maxsim_membership_fraction(
                            rt, target, metric=self.metric_for(vec_col)) \
                            >= rt.degrade_membership:
                        return _Route("maxsim_degraded", vec_col, (sqh,),
                                      target)
                return _Route("maxsim_quant_ivf", vec_col, (rt, sqh), target)
            if use_pruned:
                return _Route("maxsim_ivf", vec_col, (rt,), target)
            if use_sq:
                return _Route("maxsim_quant", vec_col, (sqh,), target)
            return _Route("maxsim", vec_col, (), target)
        ivf, qih = ix.get("ivf"), ix.get("quant_ivf")
        # a composed-only registration still carries the coarse handle
        qh = ix.get("quant", qih.handle if qih is not None else None)
        quant_ok = (qh is not None and not ignore and not pre_filtered
                    and not exact
                    and _crossover_ok(qh, QUANT_BATCH_FULL_SCAN_THRESHOLD
                                      if batch else QUANT_FULL_SCAN_THRESHOLD,
                                      qh.codes_frame()))
        if quant_ok and (qih is not None or ivf is not None) and unfiltered:
            # BOTH a cluster structure and quantized codes are declared:
            # compose them — probe clusters, score codes, exact-rescore
            # floats (hnsw.rs quantized scorer). Filtered requests keep
            # the IVF dispatcher below (its selectivity/ACORN logic
            # preserves recall under filters; cluster pruning alone would
            # not). Two separate registrations compose lazily, once.
            if qih is None:
                from qdrant_spark.operators.quantize import compose_quant_ivf

                qih = ix["quant_ivf"] = compose_quant_ivf(qh, ivf)
            return _Route("quant_ivf", vec_col, (qih,), target)
        if (ivf is not None and not pre_filtered and not exact
                and int(req.get("offset", 0)) == 0
                and req.get("score_threshold") is None):
            return _Route("ivf", vec_col, (ivf,), target)
        if quant_ok and ivf is None:
            return _Route("quant", vec_col, (qh,), target)
        return _Route("dense", vec_col, (), target)

    def _batch_route(self, req: dict[str, Any]) -> _Route | None:
        """The route of a request a fused batch group can answer: a
        single ``nearest`` leaf with a literal target and no shard
        routing or text-param filter. Only exact dense legs group per
        filter; every other kind needs an unfiltered request, and MaxSim
        kinds a dot/cosine column."""
        if req.get("prefetch") or req.get("shard_key") is not None:
            return None
        if self.text_params and req.get("filter"):
            return None  # leaf pre-applies the filter with text_params
        query = req.get("query")
        if not isinstance(query, dict) or "nearest" not in query:
            return None
        if isinstance(query["nearest"], dict) and "id" in query["nearest"]:
            return None  # plan() handles its referenced-id exclusion
        rt = self._route(req, batch=True)
        if rt.kind == "dense":
            return rt
        if rt.kind not in _BATCH_GROUPS or req.get("filter") is not None:
            return None
        if rt.kind.startswith("maxsim") \
                and self.metric_for(rt.vec_col) not in ("dot", "cosine"):
            return None
        return rt

    def _fusion_worthwhile(self) -> bool:
        """Size-dispatch: fusing only pays once one saved corpus scan
        outweighs the fused path's fixed job overhead (FUSE_MIN_BYTES)."""
        if self._fuse_ok is None:
            from qdrant_spark.operators.knn import _plan_size_bytes

            self._fuse_ok = _plan_size_bytes(self.points) >= self.fuse_min_bytes
        return self._fuse_ok

    def _plan_children(self, children: list[dict], depth: int,
                       carry: tuple[str, ...] = ()) -> tuple[list, list]:
        """Each child's result and the direction its scores are ordered
        in: siblings that share a batchable route answer as one group
        (:func:`_fuse_batch`, the grouper query_batch uses) in the
        direction their group ran, the rest plan alone (see
        :meth:`_direction_of`)."""
        out: list = [None] * len(children)
        _fuse_batch(self, children, out)
        orders: list[bool | None] = []
        for i, c in enumerate(children):
            if out[i] is None:
                out[i] = self._node(c, depth + 1, carry)
                orders.append(self.last_plan_direction)
            else:
                orders.append(out[i].larger)
        return out, orders

    def _fused_leaves(self, requests: list[dict], idxs: list[int],
                      vec_col: str) -> list[_Hits] | None:
        """The exact dense legs ``requests[i]`` for ``i`` in ``idxs``,
        sharing (vector column, filter), as ONE Spark job: the
        block-matmul kernel (``knn._matmul_knn``) scores every leg per
        Arrow batch, :func:`~qdrant_spark.operators.knn.collect_topk`
        merges the per-partition candidates on the driver, and each leg
        is sliced out of the query-major result. Returns each leg's
        hits, best first in the metric's direction. Returns None when the
        legs' combined top-k exceeds :data:`FUSED_COLLECT_MAX`: the
        caller then plans each leg alone. Raises ValueError when the
        legs' query vectors differ in dimension."""
        import numpy as np

        from qdrant_spark.filters import apply_filter
        from qdrant_spark.functions.distances import larger_is_better
        from qdrant_spark.operators.knn import _matmul_knn, collect_topk

        reqs = [requests[i] for i in idxs]
        k = max(_leg_k(r) for r in reqs)
        if len(reqs) * k > FUSED_COLLECT_MAX:
            return None
        metric = self.metric_for(vec_col)
        targets = [[float(x) for x in
                    self._resolve_vector_input(r["query"]["nearest"], r)]
                   for r in reqs]
        for i, t in zip(idxs, targets):
            if len(t) != len(targets[0]):
                raise ValueError(
                    f"request {i}: query vector has {len(t)} dimensions "
                    f"but request {idxs[0]} has {len(targets[0])}; fused "
                    f"dense requests need one query dimension")
        # the query set is already driver-side: hand it straight to the
        # block-matmul scorer (q_data) — no query DataFrame round trip
        res = _matmul_knn(
            apply_filter(self.points, reqs[0].get("filter")), None,
            metric=metric, k=k, vec_col=vec_col, id_col=self.id_col,
            qid_col="qid", qvec_col="qvec", score_threshold=None,
            q_data=(list(range(len(targets))),
                    np.asarray(targets, dtype=np.float64)),
        )
        lb = larger_is_better(metric)
        hits = _split_hits(collect_topk(res, FUSED_COLLECT_MAX),
                           range(len(reqs)))
        schema = self._hit_schema()
        return [_Hits(schema, _leg_hits(r, h, lb), lb)
                for r, h in zip(reqs, hits)]

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
              depth: int = 0, carry: tuple[str, ...] = ()) -> DataFrame:
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
        hit_cols = [self.id_col, "score", *carry]

        if query is None:  # scroll by id
            out = scroll(pts, limit=limit, flt=flt, id_col=self.id_col)
            return out.select(self.id_col, F.lit(0.0).alias("score"), *carry)
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
            kind, _, handles, target = self._route(dict(req, query=query))
            if kind == "sparse_index":
                # registered inverted index: posting lists of the query's
                # dims only (dim-bucket PartitionFilters on a persisted
                # index) instead of re-exploding the corpus's sparse
                # columns (lib/sparse/src/index/search_context.rs:37-91)
                from qdrant_spark.filters import apply_filter as _af
                from qdrant_spark.operators.sparse import sparse_knn_index

                (sp_idx,) = handles
                cand = None
                if flt is not None or pre_filtered:
                    src = _af(pts, flt, id_col=self.id_col) \
                        if flt is not None else pts
                    cand = src.select(
                        F.col(self.id_col).alias(sp_idx.id_col))
                self._bump("sparse_index_leaves")
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
            if kind == "sparse":
                from qdrant_spark.operators.sparse import sparse_knn

                skw = {}
                if "using" in req:
                    # named sparse vector: struct column vec_<name>
                    # {indices, values} (qdrant SparseVector layout)
                    skw = dict(indices_col=f"{vec_col}.indices",
                               values_col=f"{vec_col}.values")
                out = sparse_knn(
                    pts, target["indices"], target["values"],
                    k=limit + offset, id_col=self.id_col, flt=flt,
                    select=hit_cols, **skw)
                if threshold is not None:
                    out = out.filter(F.col("score") > float(threshold))
                return out.offset(offset) if offset else out
            if kind.startswith("maxsim"):
                # multivector query -> MaxSim over an array<array<float>>
                # column (multivector config, types.rs MultiVectorConfig;
                # scoring operators/multivec.py). dot/cosine only, like
                # the reference.
                from pyspark.sql.window import Window

                from qdrant_spark.filters import apply_filter as _af
                from qdrant_spark.operators import multivec as MV

                if kind == "maxsim_quant_ivf":
                    # BOTH token clusters and token codes are declared:
                    # probe clusters for candidates, coarse-MaxSim the
                    # candidates' token CODES, exact-rescore the
                    # survivors' float tokens (r12; the multivector twin
                    # of the dense quant x IVF leaf, PLAID's full ladder)
                    rt, sqh = handles
                    rescore, over = _quant_params(req, sqh.oversampling)
                    self._bump("maxsim_quant_ivf_leaves")
                    out = MV.maxsim_knn_quant_ivf(
                        rt.index, sqh, target, k=limit + offset,
                        nprobe=rt.nprobe, metric=metric,
                        candidates=rt.candidates,
                        oversampling=over, rescore=rescore)
                elif kind in ("maxsim_quant", "maxsim_degraded"):
                    # declared multivector quantization: the coarse
                    # MaxSim scan reads the declared kind's token codes
                    # — int8 (scalar), packed bits (binary), codebook
                    # indices (product) or rotated Lloyd-Max codes
                    # (turbo) — and the exact rescore touches only the
                    # oversampled candidates' float tokens
                    # (quantized_vectors.rs is vector-kind-agnostic)
                    (sqh,) = handles
                    rescore, over = _quant_params(req, sqh.oversampling)
                    if kind == "maxsim_degraded":
                        self._bump("maxsim_degraded_leaves")
                    self._bump("maxsim_sq_leaves")
                    out = MV.maxsim_knn_quant(
                        sqh, target, k=limit + offset,
                        metric=metric, oversampling=over, rescore=rescore,
                        flt=flt)
                elif kind == "maxsim_ivf":
                    # registered token-level coarse index: probe per
                    # query token, exact MaxSim over candidates only
                    (rt,) = handles
                    self._bump("maxsim_index_leaves")
                    out = MV.maxsim_knn_ivf(
                        rt.index, target, k=limit + offset,
                        nprobe=rt.nprobe, metric=metric,
                        candidates=rt.candidates)
                else:
                    src = _af(pts, flt, id_col=self.id_col) if flt else pts
                    out = MV.maxsim_knn(src, target, k=limit + offset,
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
            if kind == "ivf":
                from qdrant_spark.operators.dispatch import (
                    FULL_SCAN_THRESHOLD, auto_search,
                )

                (ivf,) = handles
                if vec_col not in self._index_totals:
                    self._index_totals[vec_col] = ivf.assigned.count()
                return auto_search(
                    ivf, target, k=limit, flt=flt, metric=metric,
                    total=self._index_totals[vec_col],
                    full_scan_threshold=(self.full_scan_threshold
                                         or FULL_SCAN_THRESHOLD))
            if kind in ("quant_ivf", "quant"):
                # declared quantization: coarse scan over the code column
                # (cluster-pruned when composed) + oversampled exact
                # rescore (QuantizationSearchParams semantics,
                # types.rs:573-628). `ignore: true` and params.exact
                # route to the exact scan, like the reference's
                # raw-scorer fallback.
                from qdrant_spark.operators.knn import _threshold_cond
                from qdrant_spark.operators.quantize import (
                    quant_ivf_search, quant_search,
                )

                qh = handles[0].handle if kind == "quant_ivf" else handles[0]
                rescore, over = _quant_params(req, qh.oversampling)
                self._bump("quant_ivf_leaves" if kind == "quant_ivf"
                           else "quant_leaves")
                if kind == "quant_ivf":
                    out = quant_ivf_search(
                        handles[0], target, k=limit + offset, metric=metric,
                        rescore=rescore, oversampling=over)
                else:
                    out = quant_search(
                        qh, target, k=limit + offset, metric=metric,
                        flt=flt, rescore=rescore, oversampling=over)
                out = out.select(F.col(qh.id_col).alias(self.id_col),
                                 "score")
                if threshold is not None:
                    # with rescore=false this thresholds the returned
                    # QUANTIZED scores — the reference accepts the
                    # combination and applies check_threshold to the
                    # scores it returns (types.rs:364-369). Binary coarse
                    # scores are the ±1-dot estimate (larger-better
                    # whatever the metric), so they threshold in that
                    # direction.
                    out = out.filter(_threshold_cond(
                        "dot" if not rescore and qh.kind == "binary"
                        else metric, float(threshold)))
                return out.offset(offset) if offset else out
            return knn(pts, target, metric=metric,
                       score_threshold=threshold, offset=offset,
                       select=hit_cols, **kw)
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
                self.id_col, F.col(key).cast("double").alias("score"), *carry)
        if "sample" in query:
            out = sample_points(pts, limit, flt=flt)
            out = out.select(self.id_col, F.lit(0.0).alias("score"), *carry)
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

    def _fuse_root(self, fusion: str, children: list,
                   directions: list[bool | None], limit: int,
                   carry: tuple[str, ...] = ()) -> _Hits:
        """RRF / DBSF of a fusion root, finished on the driver, as
        qdrant fuses each prefetch's globally merged list at collection
        level (RescoreStages, planned_query.rs:62-101). Every leg is a
        bounded top-k: a leg that is already driver-side hits (a batch
        group's leg, a nested fusion root) gives its rows, any other leg
        is collected, several as overlapped jobs from a small thread
        pool. Each leg ranks best first in the direction its scores are
        ordered in (``directions``, from :meth:`_plan_children`; score
        desc for a leg ordered only in its plan, MMR or sample), ties id
        asc — what :func:`~qdrant_spark.operators.fusion.rrf` / ``dbsf``
        compute with ``orders`` — and ``dbsf_hits`` negates
        smaller-is-better scores. The result is driver-side hits, score
        desc, carrying ``carry`` when every leg did; ``driver_fused_root``
        is 1 when no leg was collected."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target
        from pyspark.sql import types as T

        from qdrant_spark.operators.fusion import dbsf_hits, rrf_hits

        spark = self.points.sparkSession
        # None (an order that exists only in the plan) ranks score desc
        orders = [d is not False for d in directions]
        carried = [bool(carry) and set(carry) <= set(c.columns)
                   for c in children]
        rows = [c.rows if isinstance(c, _Hits) else None for c in children]
        todo = [i for i, r in enumerate(rows) if r is None]

        def collect(i: int) -> list:
            return children[i].select(
                self.id_col, "score",
                *(carry if carried[i] else ())).collect()

        # inheritable: the legs' jobs run under the caller's job group,
        # local properties and tags
        with ThreadPoolExecutor(max_workers=3) as pool:
            for i, got in zip(todo, pool.map(
                    inheritable_thread_target(spark)(collect), todo)):
                rows[i] = got
        self.last_plan_info["driver_fused_root"] = int(not todo)
        hits = [sorted(((r[0], float(r[1])) for r in leg),
                       key=lambda t, lb=lb: (-t[1] if lb else t[1], t[0]))
                for leg, lb in zip(rows, orders)]
        fn, kw = {"rrf": (rrf_hits, {}),
                  "dbsf": (dbsf_hits, {"orders": orders})}[fusion]
        fused = fn(hits, limit=limit, **kw)
        schema = self._hit_schema()
        if carry and all(carried):
            # every leg brought its hits' columns: the fused result
            # carries them without another scan
            by_id = {r[0]: tuple(r[2:]) for leg in rows for r in leg}
            fused = [(i, sc, *by_id[i]) for i, sc in fused]
            schema = T.StructType(schema.fields + [
                self.points.schema[c] for c in carry])
        return _Hits(schema, fused, True)

    def _rescore(self, query: Any, children: list,
                 req: dict[str, Any], limit: int,
                 depth: int = 0, carry: tuple[str, ...] = ()) -> DataFrame:
        """A nearest / formula / mmr / order_by root over its children's
        candidates, joined as frames; fusion roots finish in
        :meth:`_fuse_root`."""
        children = [self._frame(c) for c in children]
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
            # the candidate join reads the points anyway: the carried
            # columns come along (the MMR kernel drops the vector column,
            # so a request for it keeps (id, score))
            kept = () if vec_col in carry else carry
            cand = children[0].join(
                self.points.select(self.id_col, vec_col, *kept),
                self.id_col, "left")
            out = mmr(cand, lambda_=1.0 - float(m.get("diversity", 0.5)),
                      k=limit, metric=self.metric_for(vec_col),
                      id_col=self.id_col, vec_col=vec_col)
            if self.emit_rank and depth == 0:
                # carry the pick order as an explicit column so the
                # caller can hydrate in ONE job and re-sort driver-side
                self.last_plan_rank_col = "__rank"
                return out.select(self.id_col, "score", *kept,
                                  F.col("rank").alias("__rank"))
            return out.select(self.id_col, "score", *kept)
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
    column is a partition column."""
    if request.get("shard_key") is not None:
        from qdrant_spark.operators.sharding import select_shards

        selector = request["shard_key"]
        request = {k: v for k, v in request.items() if k != "shard_key"}
        points = select_shards(points, selector, col="shard_key")
    planner = QueryPlanner(
        points, id_col=id_col, default_vec_col=vec_col, metric=metric,
        collections=collections,
    )
    return planner.plan(request)


def _leg_k(req: dict[str, Any]) -> int:
    """A leaf's top-k depth, limit + offset."""
    return int(req.get("limit", DEFAULT_LIMIT)) + int(req.get("offset", 0))


def _best_first(hits: dict[int, list]) -> dict[int, list]:
    """Each request's (id, score) hits sorted score desc, id asc —
    collect order is not the window order."""
    return {i: sorted(h, key=lambda x: (-x[1], x[0])) for i, h in hits.items()}


def _split_hits(collected, qids) -> list[list]:
    """Each of ``qids``' best-first (id, score) hits, sliced out of the
    query-major arrays of :func:`~qdrant_spark.operators.knn.
    collect_topk`."""
    import numpy as np

    qid, ids, scores, _ = collected
    lo, hi = (np.searchsorted(qid, qids, side) for side in ("left", "right"))
    ids, scores = ids.tolist(), scores.tolist()
    return [list(zip(ids[a:b], scores[a:b])) for a, b in zip(lo, hi)]


def _leg_hits(req: dict[str, Any], hits: list, larger: bool) -> list:
    """One request's finish over its best-first (id, score) hits,
    value-identical to the single-request leaf's post-processing: cut to
    k = limit+offset, apply score_threshold with the reference's strict
    check (check_threshold, types.rs:364-369) in the direction of the
    scores (``larger``), then slice offset/limit. The threshold after the
    top-k cut is exact: every row outside the top k scores no better."""
    off = int(req.get("offset", 0))
    lim = int(req.get("limit", DEFAULT_LIMIT))
    h = hits[:off + lim]
    t = req.get("score_threshold")
    if t is not None:
        h = [x for x in h if (x[1] > float(t) if larger else x[1] < float(t))]
    return h[off:off + lim]


def _emit_legs(planner: "QueryPlanner", requests: list[dict[str, Any]],
               hits: dict[int, list], outs: list,
               larger: dict[int, bool] | None = None) -> None:
    """Per-request finish of a fused batch group (:func:`_leg_hits`) into
    driver-side hits, in the direction of the returned scores
    (``larger[i]``; default larger-better, as for sparse dot and
    MaxSim)."""
    schema = planner._hit_schema()
    for i, h in hits.items():
        lg = True if larger is None else larger[i]
        outs[i] = _Hits(schema, _leg_hits(requests[i], h, lg), lg)


def _fuse_dense(planner: "QueryPlanner", requests: list[dict[str, Any]],
                idxs: list[int], vc: str, handles: tuple,
                outs: list) -> bool:
    """Exact dense legs sharing (vector column, filter): ONE Spark job
    over one corpus scan (:meth:`QueryPlanner._fused_leaves`; the
    reference's batch dispatch special-cases exactly this, dispatch.rs
    batch path / the PlannedQuery leaf merge). Declines over
    :data:`FUSED_COLLECT_MAX`."""
    legs = planner._fused_leaves(requests, idxs, vc)
    if legs is None:
        return False
    for i, leg in zip(idxs, legs):
        outs[i] = leg
    return True


def _fuse_sparse_index(planner: "QueryPlanner",
                       requests: list[dict[str, Any]], idxs: list[int],
                       vc: str, handles: tuple, outs: list) -> bool:
    """Sparse legs on an indexed column: ONE :func:`~qdrant_spark.
    operators.sparse.sparse_knn_index_batch` scan over the union of their
    dim buckets (the reference walks its posting lists once for the whole
    batch)."""
    from qdrant_spark.operators.sparse import sparse_knn_index_batch

    (idx,) = handles
    k = max(_leg_k(requests[i]) for i in idxs)
    if len(idxs) * k > FUSED_COLLECT_MAX:
        return False  # keep per-request plans; nothing funnels the driver
    qs = [(i, [int(d) for d in requests[i]["query"]["nearest"]["indices"]],
           [float(v) for v in requests[i]["query"]["nearest"]["values"]])
          for i in idxs]
    hits: dict[int, list] = {i: [] for i in idxs}
    for r in sparse_knn_index_batch(idx, qs, k=k).collect():
        hits[r["qid"]].append((r[idx.id_col], float(r["score"])))
    _emit_legs(planner, requests, _best_first(hits), outs)
    return True


def _fuse_maxsim_codes(planner: "QueryPlanner",
                        requests: list[dict[str, Any]], idxs: list[int],
                        vc: str, handles: tuple, outs: list) -> bool:
    """Quantized-MULTIVECTOR legs (late r11), and composed legs the
    membership degrade sent to the quant-only plan (r15): ONE coarse scan
    over the token codes (all query multivectors concatenated into one
    token matrix, multivec.maxsim_quant_coarse_batch) plus ONE
    pair-scored exact MaxSim rescore over the union of candidates."""
    from qdrant_spark.operators.multivec import maxsim_quant_coarse_batch

    (sqh,) = handles
    ks, cs, rescores = _quant_widths(requests, idxs, sqh)
    if len(idxs) * max(cs.values()) > FUSED_COLLECT_MAX:
        return False
    metric = planner.metric_for(vc)
    queries = [requests[i]["query"]["nearest"] for i in idxs]
    coarse = maxsim_quant_coarse_batch(
        sqh, queries, max(cs.values()), metric=metric)
    _finish_maxsim_group(planner, requests, idxs, outs, sqh, metric, ks, cs,
                         rescores, queries, coarse)
    return True


def _finish_maxsim_group(planner, requests, idxs, outs, sqh, metric,
                         ks, cs, rescores, queries, coarse) -> None:
    """Shared tail of the batched quantized / composed MaxSim groups:
    collect the coarse top-k frame (``coarse``, qid = position in
    ``idxs``) through the kernel's collected finish, keep each request's
    top coarse-width candidates, exact-rescore the rescore=True
    requests' survivors with ONE float-token pair job, and finish each
    request (:func:`_emit_legs`)."""
    from pyspark.sql import types as T

    from qdrant_spark.operators.knn import collect_topk
    from qdrant_spark.operators.multivec import maxsim_pair_topk

    local = range(len(idxs))
    by_req = {i: h[:cs[i]] for i, h in zip(
        idxs, _split_hits(collect_topk(coarse, FUSED_COLLECT_MAX), local))}
    need_rescore = [i for i in idxs if rescores[i]]
    if need_rescore:
        from qdrant_spark.session import local_df

        id_type = planner.points.schema[planner.id_col].dataType
        pairs = local_df(
            planner.points.sparkSession,
            [(int(idxs.index(i)), h[0]) for i in need_rescore
             for h in by_req[i]],
            T.StructType([T.StructField("__qid", T.LongType()),
                          T.StructField(sqh.id_col, id_type)]))
        rescored = maxsim_pair_topk(
            sqh.points, pairs, queries,
            metric=metric, k=max(ks[i] for i in need_rescore),
            mv_col=sqh.mv_col, id_col=sqh.id_col)
        by_req.update((i, h) for i, h in zip(idxs, _split_hits(
            collect_topk(rescored, FUSED_COLLECT_MAX), local)) if rescores[i])
    # maxsim is larger-better (dot/cosine; binary coarse scores are the
    # ±1-dot estimate — also larger-better)
    _emit_legs(planner, requests, by_req, outs)


def _fuse_maxsim_composed(planner: "QueryPlanner",
                          requests: list[dict[str, Any]],
                          idxs: list[int], vc: str, handles: tuple,
                          outs: list) -> bool:
    """COMPOSED multivector legs (r12), on a column with both a token-IVF
    route and quantized token storage: ONE candidate scan of the id-only
    cluster-partitioned token table (each matched token row fans out to
    exactly the queries that probed its cluster) + ONE coarse pair scan
    over the candidates' token CODES (per-kind decode, each candidate
    scored only against ITS query) + ONE float-token pair rescore. Routes
    with a PLAID candidate cap rank every query's centroid-resolution
    candidates in the same fused scan (maxsim_ivf_capped_pairs)."""
    from qdrant_spark.operators.multivec import (
        maxsim_ivf_candidate_pairs, maxsim_ivf_capped_pairs,
        maxsim_quant_pair_topk,
    )

    rt, sqh = handles
    ks, cs, rescores = _quant_widths(requests, idxs, sqh)
    if len(idxs) * max(cs.values()) > FUSED_COLLECT_MAX:
        return False
    metric = planner.metric_for(vc)
    queries = [requests[i]["query"]["nearest"] for i in idxs]
    if rt.candidates is not None:
        pairs = maxsim_ivf_capped_pairs(
            rt.index, queries, nprobe=rt.nprobe,
            candidates=rt.candidates, metric=metric)
    else:
        pairs = maxsim_ivf_candidate_pairs(
            rt.index, queries, nprobe=rt.nprobe, metric=metric)
    coarse = maxsim_quant_pair_topk(
        sqh, pairs, queries, k=max(cs.values()), metric=metric)
    _finish_maxsim_group(planner, requests, idxs, outs, sqh, metric, ks, cs,
                         rescores, queries, coarse)
    return True


def _fuse_maxsim(planner: "QueryPlanner", requests: list[dict[str, Any]],
                 idxs: list[int], vc: str, handles: tuple,
                 outs: list) -> bool:
    """Exact MaxSim legs (late r11): ONE scan of the float-token corpus
    (multivec.maxsim_knn_batch; scores are exact, no rescore stage) — the
    multivector analogue of the fused dense group: one job, the
    kernel's candidates merged on the driver (:func:`~qdrant_spark.
    operators.knn.collect_topk`)."""
    from qdrant_spark.operators.knn import collect_topk
    from qdrant_spark.operators.multivec import maxsim_knn_batch

    ks = {i: _leg_k(requests[i]) for i in idxs}
    if len(idxs) * max(ks.values()) > FUSED_COLLECT_MAX:
        return False
    queries = [requests[i]["query"]["nearest"] for i in idxs]
    res = maxsim_knn_batch(
        planner.points, queries, k=max(ks.values()),
        metric=planner.metric_for(vc), mv_col=vc, id_col=planner.id_col)
    hits = _split_hits(collect_topk(res, FUSED_COLLECT_MAX), range(len(idxs)))
    _emit_legs(planner, requests, dict(zip(idxs, hits)), outs)
    return True


def _local_result_df(spark, hits: _Hits) -> DataFrame:
    """Driver-side hits as ONE single-partition DataFrame — the only
    place they become a JVM frame: on first non-collect use of the lazy
    frame the public plan / query_batch / universal_query boundary
    returns (:meth:`QueryPlanner._frame`), which :meth:`QueryPlanner.
    _rescore`'s joins are too. Rows go through the Arrow
    local relation (:func:`~qdrant_spark.session.local_df`'s path), so a
    collect of the frame runs no job; rows holding a NaN (Arrow's pandas
    conversion would turn it into NULL) and shapes Arrow rejects take a
    one-slice RDD instead, and an Arrow frame that is not local (Arrow
    off, or over the local-relation size threshold) is coalesced to one
    slice. ``spark.createDataFrame(list)`` would cut defaultParallelism
    slices: a 64-request batch unioned ~2048 near-empty tasks, ~10 s of
    scheduler overhead on the batched-composed bench line."""
    import pandas as pd
    import pyarrow as pa

    from qdrant_spark.session import has_nan

    rows = [tuple(r) for r in hits.rows]
    if not has_nan(rows):
        try:
            df = spark.createDataFrame(
                pd.DataFrame(rows, columns=hits.columns, dtype=object),
                schema=hits.schema)
        except (pa.ArrowException, TypeError, ValueError):
            pass
        else:
            return df if df.isLocal() else df.coalesce(1)
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
                                 hits.schema)


def _quant_params(req: dict[str, Any],
                  default_oversampling: float) -> tuple[bool, float]:
    """(rescore, oversampling) of a quantized leaf from its
    SearchParams.quantization (types.rs:573-628), resolved as
    :func:`~qdrant_spark.operators.quantize.quant_search` resolves them:
    rescore unless set false, oversampling None -> the handle's default.
    The single-request leaves and the batch groups both resolve here."""
    qp = (req.get("params") or {}).get("quantization") or {}
    rescore, over = qp.get("rescore"), qp.get("oversampling")
    return (True if rescore is None else bool(rescore),
            default_oversampling if over is None else float(over))


def _quant_widths(requests: list[dict[str, Any]], idxs: list[int], handle):
    """Per-request k = limit+offset, coarse width ceil(k * oversampling)
    and rescore flag of a quantized batch group."""
    import numpy as np

    ks, cs, rescores = {}, {}, {}
    for i in idxs:
        rescores[i], over = _quant_params(requests[i], handle.oversampling)
        ks[i] = _leg_k(requests[i])
        cs[i] = max(ks[i], int(np.ceil(ks[i] * over)))
    return ks, cs, rescores


def _finish_quant_group(planner, requests, idxs, outs, qh, metric,
                        ks, cs, rescores, coarse) -> None:
    """Shared tail of the batched dense quantized groups: collect the
    coarse top-k frame (``coarse``, qid = request index) through the
    kernel's collected finish, keep each request's top coarse-width
    candidates, rescore the rescore=True requests' candidates with ONE
    pair-scored job whose scores merge on the driver (no window), and
    finish each request (:func:`_emit_legs`) in the
    direction of its returned scores — binary coarse scores
    (rescore=False) are the ±1-dot estimate, larger-better whatever the
    metric, the single-request leaf's rule."""
    import numpy as np
    from pyspark.sql import types as T

    from qdrant_spark.operators.knn import (
        collect_topk, first_k, larger_is_better, rowwise_score_topk,
    )

    idx = qh.index
    by_req = {i: h[:cs[i]] for i, h in zip(
        idxs, _split_hits(collect_topk(coarse, FUSED_COLLECT_MAX),
                          idxs))}
    need_rescore = [i for i in idxs if rescores[i]]
    if need_rescore:
        from qdrant_spark.session import local_df

        spark = planner.points.sparkSession
        id_type = planner.points.schema[planner.id_col].dataType
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
        # every pair's exact score (no window: the pairs are within the
        # group's collect budget), each request's top k merged here
        rows = rowwise_score_topk(
            joined, metric=metric, k=None, qid_col="__qid",
            id_col=idx.id_col, vec_col=idx.vec_col,
            qvec_col="__qvec").collect()
        qid = np.asarray([r[0] for r in rows], dtype=np.int64)
        ids = np.asarray([r[1] for r in rows])
        score = np.asarray([r[2] for r in rows], dtype=np.float64)
        # Spark's descending sort ranks a NaN score first; the merge
        # keeps that order
        key = (np.where(np.isnan(score), -np.inf, -score)
               if larger_is_better(metric) else score)
        keep = first_k(qid, key, ids, max(ks[i] for i in need_rescore))
        for i in need_rescore:
            by_req[i] = []
        for q, h, sc in zip(qid[keep].tolist(), ids[keep].tolist(),
                            score[keep].tolist()):
            by_req[q].append((h, sc))
    larger = larger_is_better(metric)
    _emit_legs(planner, requests, by_req, outs, larger={
        i: larger or (not rescores[i] and qh.kind == "binary")
        for i in idxs})


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


def _fuse_quant(planner: "QueryPlanner", requests: list[dict[str, Any]],
                idxs: list[int], vc: str, handles: tuple,
                outs: list) -> bool:
    """Dense legs on a quantized column — ALL FOUR kinds since r11: ONE
    coarse Arrow scan over the codes (all queries score per batch via the
    block matmul, per-kind decode in
    :func:`~qdrant_spark.operators.quantize.quant_scan_setup`) plus ONE
    pair-scored rescore over the union of candidate floats. The
    reference's batch dispatch walks quantized storage once for the whole
    batch the same way (lib/segment/src/vector_storage/quantized/)."""
    from qdrant_spark.operators.knn import _matmul_knn
    from qdrant_spark.operators.quantize import quant_scan_setup

    (qh,) = handles
    ks, cs, rescores = _quant_widths(requests, idxs, qh)
    if len(idxs) * max(cs.values()) > FUSED_COLLECT_MAX:
        return False
    metric = planner.metric_for(vc)
    prep, code_col, dec, Q, scan_metric = quant_scan_setup(
        qh.kind, qh.index, metric,
        [requests[i]["query"]["nearest"] for i in idxs])
    coarse = _matmul_knn(
        prep(qh.codes_frame()), None, metric=scan_metric,
        k=max(cs.values()),
        vec_col=code_col, id_col=qh.index.id_col, qid_col="__qid",
        qvec_col="__qvec", score_threshold=None,
        q_data=(idxs, Q), vec_decode=dec,
    )
    _finish_quant_group(planner, requests, idxs, outs, qh, metric, ks, cs,
                        rescores, coarse)
    return True


def _fuse_quant_ivf(planner: "QueryPlanner", requests: list[dict[str, Any]],
                    idxs: list[int], vc: str, handles: tuple,
                    outs: list) -> bool:
    """COMPOSED quantized dense legs (r11): ONE cluster-masked coarse scan
    over the probed union of the (id, __cluster, code) frame — each query
    scored only inside ITS probed clusters, so candidates equal the
    per-request composed plan — plus the shared pair-scored rescore. The
    reference batches quantized search through one storage walk with the
    graph doing the pruning; here partition pruning covers the probe
    union and the mask keeps per-query semantics exact."""
    import numpy as np

    from qdrant_spark.operators import ann
    from qdrant_spark.operators.quantize import quant_scan_setup

    (qih,) = handles
    qh = qih.handle
    ks, cs, rescores = _quant_widths(requests, idxs, qh)
    if len(idxs) * max(cs.values()) > FUSED_COLLECT_MAX:
        return False
    metric = planner.metric_for(vc)
    prep, code_col, dec, Q, scan_metric = quant_scan_setup(
        qh.kind, qh.index, metric,
        [requests[i]["query"]["nearest"] for i in idxs])
    Qraw = np.asarray([requests[i]["query"]["nearest"] for i in idxs],
                      dtype=np.float64)
    # per-query probes in RAW vector space (same argsort as the
    # single-request quant_ivf_search), masks keyed by cluster
    d = ((Qraw[:, None, :] - qih.centroids[None, :, :]) ** 2).sum(axis=2)
    probes = np.argsort(d, axis=1)[:, :qih.nprobe]
    used = sorted({int(c) for row in probes for c in row})
    cluster_q = {int(c): np.where((probes == c).any(axis=1))[0]
                 for c in used}
    pruned = prep(qih.coded.filter(F.col("__cluster").isin(used)))
    coarse = ann.cluster_masked_topk(
        pruned, vec_col=code_col, id_col=qih.id_col, qids=idxs,
        Q=Q, cluster_q=cluster_q, k=max(cs.values()),
        metric=scan_metric, vec_decode=dec,
    )
    _finish_quant_group(planner, requests, idxs, outs, qh, metric, ks, cs,
                        rescores, coarse)
    return True


#: route kind -> (its fused batch function, the last_plan_info counters
#: each answered group adds to: +1, or + the group size for ``_legs`` /
#: ``_requests`` counters). Kinds not listed (sparse, ivf, maxsim_ivf)
#: always plan per request.
_BATCH_GROUPS = {
    "dense": (_fuse_dense, ("fused_groups", "fused_legs")),
    "sparse_index": (_fuse_sparse_index, ()),
    "quant": (_fuse_quant, ("quant_batch_groups",)),
    "quant_ivf": (_fuse_quant_ivf, ("quant_ivf_batch_groups",)),
    "maxsim_quant": (_fuse_maxsim_codes, ("maxsim_quant_batch_groups",)),
    "maxsim_degraded": (_fuse_maxsim_codes,
                        ("maxsim_degraded_batch_requests",)),
    "maxsim_quant_ivf": (_fuse_maxsim_composed,
                         ("maxsim_quant_ivf_batch_groups",)),
    "maxsim": (_fuse_maxsim, ("maxsim_batch_groups",)),
}


def _fuse_batch(planner: "QueryPlanner", requests: list[dict[str, Any]],
                outs: list) -> None:
    """Fill ``outs`` with driver-side hits (:class:`_Hits`) for every
    group of >=2 requests — query_batch requests or one node's prefetch
    siblings — that share a batchable route
    (:meth:`QueryPlanner._batch_route`) and vector column — exact dense
    legs also share a filter, and group only when fusion pays
    (:meth:`QueryPlanner._fusion_worthwhile`) — through the kind's fused
    batch function, value-identical per request to planning each alone.
    A function that declines (its collect would exceed
    :data:`FUSED_COLLECT_MAX`) leaves its requests to per-request plans."""
    import json

    groups: dict[tuple, tuple] = {}
    for i, req in enumerate(requests):
        rt = planner._batch_route(req)
        if rt is None or (rt.kind == "dense"
                          and not planner._fusion_worthwhile()):
            continue
        flt_key = (json.dumps(req.get("filter"), sort_keys=True, default=str)
                   if rt.kind == "dense" else None)
        groups.setdefault((rt.kind, rt.vec_col, flt_key),
                          (rt.handles, []))[1].append(i)
    for (kind, vc, _), (handles, idxs) in groups.items():
        fn, counters = _BATCH_GROUPS[kind]
        if len(idxs) >= 2 and fn(planner, requests, idxs, vc, handles, outs):
            for c in counters:
                planner._bump(c, len(idxs) if c.endswith(
                    ("_legs", "_requests")) else 1)


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
    indexes: dict[str, list] | None = None,
    ivf_index=None,
    carry: list[str] | None = None,
) -> DataFrame:
    """Batch universal query (``POST /collections/{c}/points/query/batch``,
    reference src/actix/api/query_api.rs; per-request independence as in
    ``Collection::query_batch``): plan each request against the same corpus
    and union the results tagged with ``request_idx``.

    Requests may differ arbitrarily (prefetch trees, filters, fusion), so
    each compiles to its own sub-plan — EXCEPT single-leaf nearest
    requests that share a route and vector column (:func:`_fuse_batch`,
    the grouper prefetch siblings use too): exact dense legs sharing a
    filter run ONE corpus scan through the block-matmul kernel, as ONE
    Spark job whose per-partition top-k candidates merge on the driver
    (the reference's batch dispatch special-cases exactly this,
    dispatch.rs batch path / the PlannedQuery leaf merge; its
    coordinator merges per-segment top-k the same way); unfiltered legs
    on an indexed sparse column, a quantized or composed dense column,
    or a multivector column share one scan per route kind, the dense
    quantized ones with the same driver merge. The legs of one fused
    dense group must share a query dimension (ValueError names the
    request otherwise).
    Requests carrying a ``shard_key`` selector route to their shard's
    partition directories before planning. Per-request
    limit/offset/score_threshold are preserved; the batched leg results
    are value-identical to planning each request alone. When every
    request's result is driver-side hits (:class:`_Hits`), the batch is
    one lazy frame over them (:meth:`QueryPlanner._frame`: its
    ``collect()`` reads the hits, any other use builds one local frame);
    otherwise the per-request frames are unioned.

    ``indexes`` is the :class:`QueryPlanner` mapping; ``ivf_index``
    registers one more IVF index on its own vector column.

    ``carry`` names columns of ``points`` the caller reads for each hit
    (:attr:`QueryPlanner.carry`). When every request's plan carries them,
    the result holds them after (request_idx, id, score), so one collect
    answers the batch; when any leg cannot (a fused group, an indexed
    route), the result is (request_idx, id, score) for every request."""
    if ivf_index is not None:
        indexes = {**(indexes or {}), ivf_index.vec_col: [
            ivf_index, *(indexes or {}).get(ivf_index.vec_col, [])]}
    planner = QueryPlanner(
        points, id_col=id_col, default_vec_col=vec_col, metric=metric,
        collections=collections, fuse_min_bytes=fuse_min_bytes,
        metrics=metrics, indexes=indexes,
    )
    planner.carry = tuple(carry or ())
    return planner._frame(_plan_batch(planner, requests))


def _plan_batch(planner: QueryPlanner,
                requests: list[dict[str, Any]]) -> DataFrame | _Hits:
    """:func:`query_batch` on a built planner, without the final
    conversion: an all-local batch stays driver-side hits (request_idx,
    id, score, carried columns), which the client reads directly."""
    from functools import reduce

    from pyspark.sql import types as T

    if not requests:
        raise ValueError("empty request batch")
    points, id_col, carry = planner.points, planner.id_col, planner.carry

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

    planner._vec_cache = planner._batch_resolve_ids({"prefetch": list(requests)})
    outs: list = [None] * len(requests)
    _fuse_batch(planner, requests, outs)
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
                saved = planner.indexes
                planner.points = select_shards(
                    points, req["shard_key"], col="shard_key")
                planner.indexes = {}
                try:
                    outs[i] = planner._plan(sub)
                finally:
                    planner.points, planner.indexes = points, saved
            else:
                outs[i] = planner._plan(req)
    if carry and not all(set(carry) <= set(o.columns) for o in outs):
        # one leg cannot carry: every leg answers (id, score)
        outs = [_Hits(T.StructType(o.schema.fields[:2]),
                      [r[:2] for r in o.rows], o.larger)
                if isinstance(o, _Hits) else o.select(id_col, "score")
                for o in outs]
    if all(isinstance(o, _Hits) for o in outs) \
            and len({tuple(o.columns) for o in outs}) == 1:
        # every leg is driver-side hits with one shared schema: ONE
        # local result instead of a per-leg frame + N-way union (r12:
        # the union's 64 one-row tasks + 64 createDataFrame roundtrips
        # measured ~1.4s of the 64-request fused batch's 2.9s)
        schema = T.StructType([T.StructField("request_idx", T.LongType())]
                              + list(outs[0].schema.fields))
        return _Hits(schema, [(i, *r) for i, o in enumerate(outs)
                              for r in o.rows], None)
    tagged = [planner._frame(o).withColumn("request_idx", F.lit(i))
              for i, o in enumerate(outs)]
    return reduce(lambda a, b: a.unionByName(b), tagged) \
        .select("request_idx", *(c for c in tagged[0].columns if c != "request_idx"))
