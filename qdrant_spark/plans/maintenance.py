"""Background-optimizer analogues (SURVEY §4.3): driver-side maintenance.

The reference runs four segment optimizers in background threads
(lib/shard/src/optimizers/): merge_optimizer (too many small segments →
merge), vacuum_optimizer (too many soft-deleted rows → rewrite),
indexing_optimizer (segment grew past ``indexing_threshold_kb`` → build the
HNSW/mmap index, segment_optimizer.rs:217-220), and
config_mismatch_optimizer (stored index params differ from the collection
config → rebuild).

Spark mapping: merge and vacuum are :meth:`PointsTable.optimize` /
:meth:`PointsTable.vacuum` (sources/parquet.py). This module covers the
other two as ONE idempotent command, :func:`ensure_index`, run over the
:data:`_KINDS` table (ivf, quant, quant_ivf, maxsim, maxsim_quant,
maxsim_codes) — the "index maintenance job" a scheduler runs after ingest
batches. Every kind goes through the same lifecycle:

- below ``indexing_threshold`` rows it does nothing (plain scans are the
  faster plan there — the crossover the query-time dispatcher uses,
  operators/dispatch.FULL_SCAN_THRESHOLD);
- it LOADS the persisted index when the stored meta holds every key the
  kind's load reads, its requested params equal the stored ones, the row
  count stayed within ``stale_fraction`` of the build's, and (for kinds
  whose layout freezes the floats) the corpus signature or, failing
  that, a one-pass content fingerprint still matches;
- otherwise it BUILDS (no meta) or REBUILDS (config_mismatch_optimizer,
  the indexing_optimizer's grew-past-threshold re-trigger, content drift,
  or a meta from an older layout) into a fresh ``path/_v{n}`` and commits
  it through :mod:`qdrant_spark.versioned`: the kind's meta file is the
  pointer, swapped atomically after the data is written, so a crash at
  any step leaves the previous index or the new one — never new data
  under old meta. Small drift is the incremental path's job
  (ann.assign_to_ivf), not a rebuild.

``path=None`` builds in memory and persists nothing. Scale shape: a build
pays the kind's corpus passes once; a load touches only the meta file.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, replace
from functools import partial
from typing import Any, Callable

import numpy as np
from pyspark.sql import DataFrame

from qdrant_spark import versioned
from qdrant_spark.operators.dispatch import FULL_SCAN_THRESHOLD


def corpus_content_fp(points: DataFrame, cols: list[str]) -> str:
    """Order-independent content fingerprint of ``cols`` in ONE JVM-side
    columnar pass (xxhash64 per row folded with count + bit-XOR; no
    Python workers, no shuffle — xxhash64 hashes arrays/structs
    natively). This is the maybe-drifted probe behind the ensures'
    ``corpus_signature``: when the cheap signature changes, this one
    scan distinguishes a re-ingest of identical content (keep the
    index, re-stamp the signature) from real drift (rebuild) — so
    restarts and re-ingests never re-cluster, while count-stable
    mutations can't serve stale frozen floats."""
    from pyspark.sql import functions as F

    row = (points.select(F.xxhash64(*[F.col(c) for c in cols])
                         .alias("__h"))
           .agg(F.count("*").alias("n"),
                F.expr("bit_xor(__h)").alias("x")).first())
    return f"{row['n']}:{row['x']}"


@dataclass(frozen=True)
class _Kind:
    """One persisted index kind: data and functions only, the lifecycle
    is :func:`ensure_index`'s."""

    meta: str                   # meta file name, the commit pointer
    keys: tuple[str, ...]       # requested params stored and compared
    defaults: dict[str, Any]    # every param the kind accepts
    #: params naming the columns the content probe hashes; None = the
    #: kind ignores ``corpus_signature``
    sig: tuple[str, ...] | None
    needs: tuple[str, ...]      # meta keys ``load`` reads
    #: ``build(points, params, n_rows, dir) -> (index, meta extras)``
    #: writes the kind's data under ``dir`` (None = in memory)
    build: Callable
    #: ``load(points, dir, meta, params) -> index``
    load: Callable


# -- ivf: the cluster-partitioned float corpus + centroids -------------------

def _build_ivf(points, p, n, d):
    from qdrant_spark.operators.ann import build_ivf, persist_ivf

    idx = build_ivf(points, n_clusters=p["n_clusters"],
                    vec_col=p["vec_col"], id_col=p["id_col"],
                    seed=p["seed"], fit_fraction=p["fit_fraction"])
    if d is not None:
        persist_ivf(idx, os.path.join(d, "assigned"))
    return idx, {"dim": idx.centroids.shape[1],
                 "centroids": idx.centroids.tolist()}


def _load_ivf(points, d, meta, p):
    from qdrant_spark.operators.ann import IvfIndex

    return IvfIndex(
        assigned=points.sparkSession.read.parquet(os.path.join(d, "assigned")),
        centroids=np.asarray(meta["centroids"], dtype=np.float64),
        vec_col=meta["vec_col"], id_col=meta["id_col"], persisted=True)


# -- quant: narrow (id, code) parquet + encoder state (quantized_vectors.rs
#    builds/loads the same way from segment meta) ---------------------------

def _save_state(handle, d) -> dict[str, Any]:
    from qdrant_spark.operators.quantize import quant_state

    arrays, scalars = quant_state(handle)
    np.savez(os.path.join(d, "quant_params.npz"), **arrays)
    return {"kind": handle.kind, "scalars": scalars,
            "oversampling": handle.oversampling}


def _load_state(codes, points, d, meta):
    from qdrant_spark.operators.quantize import quant_from_state

    arrays = dict(np.load(os.path.join(d, "quant_params.npz"),
                          allow_pickle=False))
    fst = (meta["config"].get(meta["kind"]) or {}).get("full_scan_threshold")
    return quant_from_state(
        meta["kind"], codes, points,
        vec_col=meta["vec_col"], id_col=meta["id_col"],
        arrays=arrays, scalars=meta["scalars"],
        oversampling=float(meta["oversampling"]),
        full_scan_threshold=None if fst is None else int(fst))


def _build_quant(points, p, n, d):
    from qdrant_spark.operators.quantize import build_quant

    handle = build_quant(points, p["config"], vec_col=p["vec_col"],
                         id_col=p["id_col"], dim=p["dim"])
    if d is None:
        return handle, {}
    handle.codes_frame().select(handle.id_col, *handle.code_cols()) \
        .write.mode("overwrite").parquet(os.path.join(d, "codes"))
    return handle, _save_state(handle, d)


def _load_quant(points, d, meta, p):
    codes = points.sparkSession.read.parquet(os.path.join(d, "codes"))
    return _load_state(codes, points, d, meta)


# -- quant_ivf: cluster-partitioned (id, __cluster, code) parquet + the
#    cluster-partitioned float layout for the probed-partition rescore (the
#    reference's quantized-HNSW posture, hnsw_quantized_search_test.rs) ----

def _build_quant_ivf(points, p, n, d):
    from qdrant_spark.operators.ann import build_ivf, persist_ivf
    from qdrant_spark.operators.quantize import build_quant, compose_quant_ivf

    handle = build_quant(points, p["config"], vec_col=p["vec_col"],
                         id_col=p["id_col"], dim=p["dim"])
    ivf = build_ivf(points, n_clusters=p["n_clusters"], vec_col=p["vec_col"],
                    id_col=p["id_col"], seed=p["seed"],
                    fit_fraction=p["fit_fraction"])
    if d is not None:
        ivf = persist_ivf(ivf, os.path.join(d, "clustered"))
    qih = compose_quant_ivf(handle, ivf, nprobe=int(p["nprobe"]))
    if d is None:
        return qih, {}
    qih.coded.write.mode("overwrite").partitionBy("__cluster").parquet(
        os.path.join(d, "coded"))
    return qih, {**_save_state(handle, d),
                 "centroids": ivf.centroids.tolist(),
                 "clustered_full": "clustered"}


def _load_quant_ivf(points, d, meta, p):
    """The composed index re-opens WITH its cluster-partitioned float
    layout, so the reloaded route's exact rescore keeps the
    probed-partition file pruning. ``nprobe`` is a routing knob taken
    from the request, not a rebuild trigger."""
    from qdrant_spark.operators.quantize import QuantIvfHandle

    read = points.sparkSession.read.parquet
    coded = read(os.path.join(d, "coded"))
    return QuantIvfHandle(
        handle=_load_state(coded.drop("__cluster"), points, d, meta),
        centroids=np.asarray(meta["centroids"], dtype=np.float64),
        coded=coded, nprobe=int(p["nprobe"]),
        clustered_full=read(os.path.join(d, meta["clustered_full"])))


# -- maxsim: cluster-partitioned token memberships + centroids, optionally
#    the invlist float layout (the reference persists its multivector HNSW
#    inside the segment, lib/segment/src/index/hnsw_index/) ----------------

def _build_maxsim(points, p, n, d):
    from qdrant_spark.operators.multivec import (
        build_maxsim_ivf, persist_maxsim_ivf, persist_maxsim_ivf_points,
    )

    idx = build_maxsim_ivf(points, n_clusters=p["n_clusters"],
                           mv_col=p["mv_col"], id_col=p["id_col"],
                           seed=p["seed"], fit_fraction=p["fit_fraction"])
    if d is not None:
        idx = persist_maxsim_ivf(idx, os.path.join(d, "tokens"))
        if p["clustered_points"]:
            persist_maxsim_ivf_points(idx, os.path.join(d, "points"))
    return idx, {"centroids": idx.centroids.tolist()}


def _load_maxsim(points, d, meta, p):
    from qdrant_spark.operators.multivec import MaxSimIvf

    read = points.sparkSession.read.parquet
    return MaxSimIvf(
        tokens=read(os.path.join(d, "tokens")),
        centroids=np.asarray(meta["centroids"], dtype=np.float64),
        points=points, mv_col=meta["mv_col"], id_col=meta["id_col"],
        clustered_points=(read(os.path.join(d, "points"))
                          if meta["clustered_points"] else None))


# -- maxsim_quant: quantized token codes of any kind + encoder state -------

def _build_maxsim_quant(points, p, n, d):
    from qdrant_spark.operators.multivec import (
        build_maxsim_quant, maxsim_quant_state, persist_maxsim_quant,
    )
    from qdrant_spark.operators.quantize import quant_kind

    idx = build_maxsim_quant(points, p["config"], mv_col=p["mv_col"],
                             id_col=p["id_col"], n_docs=n)
    if d is None:
        return idx, {}
    persist_maxsim_quant(idx, os.path.join(d, "codes"))
    arrays, scalars = maxsim_quant_state(idx)
    np.savez(os.path.join(d, "maxsim_sq_params.npz"), **arrays)
    return idx, {"kind": quant_kind(p["config"]), "scalars": scalars,
                 "oversampling": idx.oversampling}


def _load_maxsim_quant(points, d, meta, p):
    from qdrant_spark.operators.multivec import maxsim_quant_from_state

    arrays = np.load(os.path.join(d, "maxsim_sq_params.npz"),
                     allow_pickle=False)
    codes = points.sparkSession.read.parquet(os.path.join(d, "codes"))
    return maxsim_quant_from_state(
        meta["kind"], codes, points,
        mv_col=meta["mv_col"], id_col=meta["id_col"],
        arrays=arrays, scalars=meta["scalars"],
        oversampling=float(meta["oversampling"]),
        full_scan_threshold=(meta["config"][meta["kind"]] or {})
        .get("full_scan_threshold"),
        n_docs=meta["n_rows"])


# -- maxsim_codes: the composed route's cluster-partitioned CODES invlist,
#    derived from a maxsim and a maxsim_quant index — ``parents`` carries
#    their versions, so rebuilding either one rebuilds this one ----------

def _build_maxsim_codes(points, p, n, d):
    from qdrant_spark.operators.multivec import persist_maxsim_quant_codes

    if d is None:
        return p["index"], {}
    return persist_maxsim_quant_codes(p["index"], p["qidx"],
                                      os.path.join(d, "codes")), {}


def _load_maxsim_codes(points, d, meta, p):
    return replace(p["index"], clustered_codes=points.sparkSession.read
                   .parquet(os.path.join(d, "codes")))


_COMMON = {"id_col": "id", "seed": 42, "fit_fraction": None}
_QUANT_NEEDS = ("kind", "scalars", "oversampling")

_KINDS: dict[str, _Kind] = {
    "ivf": _Kind(
        "ivf_meta.json",
        ("n_clusters", "vec_col", "id_col", "seed", "fit_fraction"),
        {**_COMMON, "n_clusters": 16, "vec_col": "vec"},
        None, ("centroids",), _build_ivf, _load_ivf),
    "quant": _Kind(
        "quant_meta.json", ("config", "vec_col", "id_col"),
        {"config": None, "vec_col": "vec", "id_col": "id", "dim": None},
        None, _QUANT_NEEDS, _build_quant, _load_quant),
    "quant_ivf": _Kind(
        "quant_ivf_meta.json",
        ("config", "vec_col", "id_col", "n_clusters", "seed", "fit_fraction"),
        {**_COMMON, "config": None, "vec_col": "vec", "dim": None,
         "n_clusters": 16, "nprobe": 4},
        ("id_col", "vec_col"), (*_QUANT_NEEDS, "centroids", "clustered_full"),
        _build_quant_ivf, _load_quant_ivf),
    "maxsim": _Kind(
        "maxsim_meta.json",
        ("n_clusters", "mv_col", "id_col", "seed", "fit_fraction",
         "clustered_points"),
        {**_COMMON, "n_clusters": 16, "mv_col": "mv",
         "clustered_points": False},
        ("id_col", "mv_col"), ("centroids",), _build_maxsim, _load_maxsim),
    "maxsim_quant": _Kind(
        "maxsim_sq_meta.json", ("config", "mv_col", "id_col"),
        {"config": None, "mv_col": "mv", "id_col": "id"},
        None, _QUANT_NEEDS, _build_maxsim_quant, _load_maxsim_quant),
    "maxsim_codes": _Kind(
        "maxsim_codes_meta.json", ("parents",),
        {"parents": None, "index": None, "qidx": None, "mv_col": "mv",
         "id_col": "id"},
        ("id_col", "mv_col"), (), _build_maxsim_codes, _load_maxsim_codes),
}


def read_meta(kind: str, path: str) -> dict[str, Any] | None:
    """The committed meta of the ``kind`` index at ``path`` (None when
    absent or unreadable)."""
    text = versioned.read_pointer(path, _KINDS[kind].meta)
    try:
        return None if text is None else json.loads(text)
    except ValueError:
        return None


def _jsonable(value: Any) -> Any:
    return json.loads(json.dumps(value, default=lambda o: o.item()))


def _content_fresh(k: _Kind, path: str, meta: dict[str, Any],
                   signature: str | None, points: DataFrame,
                   cols: list[str]) -> bool:
    """True when the corpus behind a matching meta is still the one the
    index froze: no requested signature, or the stored one, or — after
    the one-pass content probe — identical content, whose new signature
    is then committed onto the same version."""
    if signature is None or meta["corpus_signature"] == signature:
        return True
    if meta["content_fp"] is None \
            or corpus_content_fp(points, cols) != meta["content_fp"]:
        return False
    target = f"_v{meta['version']}"
    versioned.commit(path, k.meta,
                     json.dumps({**meta, "corpus_signature": signature}),
                     target, target)
    return True


def ensure_index(
    kind: str,
    points: DataFrame,
    path: str | None,
    config: dict[str, Any] | None = None,
    *,
    indexing_threshold: int = FULL_SCAN_THRESHOLD,
    stale_fraction: float = 0.2,
    total: int | None = None,
    corpus_signature: str | None = None,
    **params: Any,
) -> tuple[Any, str]:
    """Idempotent maintenance of one ``kind`` index (a :data:`_KINDS`
    key) over ``points``; returns ``(index | None, action)`` with action
    in ``{"skipped", "loaded", "built", "rebuilt"}``. ``config`` is the
    declared quantization_config of the quantized kinds; ``params`` the
    kind's build params (see its ``defaults``). ``total`` skips the
    row-count job when the caller already knows it.

    ``corpus_signature`` (any cheap opaque token of the corpus state — a
    snapshot version, a file-listing digest; the client passes its
    points-dir digest) guards the kinds whose persisted layout freezes
    the floats against count-stable mutations: a changed signature runs
    the one-pass content probe (:func:`corpus_content_fp`) — identical
    content loads and re-stamps, real drift rebuilds."""
    k = _KINDS[kind]
    unknown = set(params) - set(k.defaults)
    if unknown:
        raise TypeError(f"{kind} index has no params {sorted(unknown)}")
    p = {**k.defaults, **params}
    if config is not None:
        p["config"] = config
    n = points.count() if total is None else int(total)
    if n < indexing_threshold:
        # indexing_optimizer: small segments stay plain (is_big_for_index
        # false, indexing_optimizer.rs:74) — even if an old index exists,
        # the dispatcher's plain route wins at this size
        return None, "skipped"
    if path is None:
        return k.build(points, p, n, None)[0], "built"

    requested = _jsonable({key: p[key] for key in k.keys})
    signature = corpus_signature if k.sig is not None else None
    cols = [p[c] for c in k.sig or ()]
    meta = read_meta(kind, path)
    if meta is None:
        action, previous = "built", None
    else:
        action = "rebuilt"
        previous = f"_v{meta['version']}" if "version" in meta else None
        complete = all(key in meta for key in (
            "version", "n_rows", "corpus_signature", "content_fp", *k.needs))
        if (complete
                and {key: meta.get(key) for key in requested} == requested
                and abs(n - meta["n_rows"])
                <= stale_fraction * max(meta["n_rows"], 1)
                and _content_fresh(k, path, meta, signature, points, cols)):
            live = versioned.version_dir(path, meta["version"])
            return k.load(points, live, meta, p), "loaded"

    version = versioned.fresh_version(path)
    out = versioned.version_dir(path, version)
    os.makedirs(out)
    _, extras = k.build(points, p, n, out)
    meta = {**requested, **extras, "version": version, "n_rows": n,
            "corpus_signature": signature,
            "content_fp": (None if signature is None
                           else corpus_content_fp(points, cols))}
    versioned.commit(path, k.meta, json.dumps(meta), f"_v{version}", previous)
    return k.load(points, out, meta, p), action


ensure_ann_index = partial(ensure_index, "ivf")
ensure_quant_ivf_index = partial(ensure_index, "quant_ivf")
ensure_maxsim_index = partial(ensure_index, "maxsim")
read_index_meta = partial(read_meta, "ivf")
