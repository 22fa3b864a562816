"""The one commit protocol (qdrant_spark.versioned) under every persisted
index kind of plans.maintenance.ensure_index: a crash at any commit step
leaves the previous index loadable intact, or a rebuild — never new data
under old meta — and the in-memory (no storage root) and rooted client
ensures agree."""

from __future__ import annotations

import os

import numpy as np
import pytest
from conftest import COMMIT_STEPS, InjectedCrash

from qdrant_spark import versioned
from qdrant_spark.plans.maintenance import _KINDS, ensure_index, read_meta

Q = [0.3, -0.1, 0.7, 0.2, -0.5, 0.1, 0.4, -0.2]


@pytest.fixture(scope="module")
def dense(spark):
    rng = np.random.default_rng(11)
    rows = [(i, rng.normal(size=8).astype(float).tolist()) for i in range(300)]
    return spark.createDataFrame(rows, "id long, vec array<float>").cache()


@pytest.fixture(scope="module")
def multi(spark):
    rng = np.random.default_rng(12)
    rows = [(i, rng.normal(size=(4, 8)).tolist()) for i in range(150)]
    return spark.createDataFrame(
        rows, "id long, mv array<array<double>>").cache()


@pytest.fixture(scope="module")
def parents(multi, tmp_path_factory):
    """The maxsim and maxsim_quant indexes a maxsim_codes index derives
    from."""
    root = tmp_path_factory.mktemp("parents")
    index, _ = ensure_index("maxsim", multi, str(root / "ms"), n_clusters=4,
                            indexing_threshold=0)
    qidx, _ = ensure_index("maxsim_quant", multi, str(root / "sq"),
                           {"scalar": {}}, indexing_threshold=0)
    return index, qidx


def _ids(df) -> list:
    return [r["id"] for r in df.collect()]


def _clusters(frame) -> list[int]:
    return sorted(r[0] for r in frame.select("__cluster").distinct().collect())


def _fingerprint(kind: str, idx) -> dict:
    """Centroids (or encoder state), row count, cluster ids present in
    the data and the top-10 ids of one query."""
    from qdrant_spark.operators import ann, multivec, quantize

    qm = [Q, [-x for x in Q]]
    if kind == "ivf":
        return dict(state=idx.centroids.tolist(), rows=idx.assigned.count(),
                    clusters=_clusters(idx.assigned),
                    top=_ids(ann.ivf_search(idx, Q, k=10, nprobe=2)))
    if kind == "quant":
        arrays, _ = quantize.quant_state(idx)
        return dict(state={k: v.tolist() for k, v in arrays.items()},
                    kind=idx.kind, rows=idx.codes_frame().count(),
                    top=_ids(quantize.quant_search(idx, Q, k=10)))
    if kind == "quant_ivf":
        return dict(state=idx.centroids.tolist(), rows=idx.coded.count(),
                    clusters=_clusters(idx.coded),
                    top=_ids(quantize.quant_ivf_search(idx, Q, k=10,
                                                       nprobe=2)))
    if kind == "maxsim":
        return dict(state=idx.centroids.tolist(), rows=idx.tokens.count(),
                    clusters=_clusters(idx.tokens),
                    top=_ids(multivec.maxsim_knn_ivf(idx, qm, k=10,
                                                     nprobe=2)))
    if kind == "maxsim_quant":
        arrays, _ = multivec.maxsim_quant_state(idx)
        return dict(state={k: np.asarray(v).tolist()
                           for k, v in arrays.items()},
                    kind=type(idx).__name__, rows=idx.codes.count(),
                    top=_ids(multivec.maxsim_knn_quant(idx, qm, k=10)))
    assert kind == "maxsim_codes"
    return dict(rows=idx.clustered_codes.count(),
                clusters=_clusters(idx.clustered_codes))


def _cases(kind: str, multi, dense, parents):
    """(points, params of the committed index, params of the crashed
    rebuild) per kind."""
    return {
        "ivf": (dense, dict(n_clusters=4), dict(n_clusters=8)),
        "quant": (dense, dict(config={"scalar": {}}),
                  dict(config={"binary": {}})),
        "quant_ivf": (dense, dict(config={"scalar": {}}, n_clusters=4),
                      dict(config={"scalar": {}}, n_clusters=8)),
        "maxsim": (multi, dict(n_clusters=4), dict(n_clusters=8)),
        "maxsim_quant": (multi, dict(config={"scalar": {}}),
                         dict(config={"binary": {}})),
        "maxsim_codes": (
            multi,
            dict(index=parents[0], qidx=parents[1], parents=[0, 0]),
            dict(index=parents[0], qidx=parents[1], parents=[1, 0])),
    }[kind]


@pytest.mark.parametrize("kind", sorted(_KINDS))
def test_crashed_rebuild_loads_previous_or_rebuilds(
        kind, dense, multi, parents, tmp_path, fail_at):
    points, a, b = _cases(kind, multi, dense, parents)
    if kind.startswith("maxsim"):
        a, b = dict(a, mv_col="mv"), dict(b, mv_col="mv")
    else:
        a, b = dict(a, vec_col="vec"), dict(b, vec_col="vec")
    path = str(tmp_path / kind)
    idx, action = ensure_index(kind, points, path, indexing_threshold=0, **a)
    assert action == "built"
    want = _fingerprint(kind, idx)
    for step in COMMIT_STEPS:
        with fail_at(step), pytest.raises(InjectedCrash):
            ensure_index(kind, points, path, indexing_threshold=0, **b)
        idx, action = ensure_index(kind, points, path, indexing_threshold=0,
                                   **a)
        # before the swap the old pointer still names the old data; after
        # it the meta holds the new params, so the old ones rebuild
        assert action == ("rebuilt" if step == "retire" else "loaded"), step
        assert _fingerprint(kind, idx) == want, step
        dirs = [d for d in os.listdir(path) if d.startswith("_v")]
        assert len(dirs) <= 3, dirs  # target + previous (+ one orphan)
    assert read_meta(kind, path)["version"] == max(
        int(d[2:]) for d in os.listdir(path) if d.startswith("_v"))


def test_crashed_ivf_rebuild_keeps_the_four_cluster_index(dense, tmp_path,
                                                          fail_at):
    """A 4-cluster index, then an 8-cluster rebuild that dies after its
    data write: the next 4-cluster ensure loads 4 centroids over data
    holding exactly clusters 0-3 (the in-place layout used to load 4
    centroids over 8-cluster data, so probes never reached 4-7)."""
    path = str(tmp_path / "ix")
    ensure_index("ivf", dense, path, n_clusters=4, indexing_threshold=0)
    with fail_at("written"), pytest.raises(InjectedCrash):
        ensure_index("ivf", dense, path, n_clusters=8, indexing_threshold=0)
    idx, action = ensure_index("ivf", dense, path, n_clusters=4,
                               indexing_threshold=0)
    assert action == "loaded"
    assert idx.centroids.shape[0] == 4
    assert _clusters(idx.assigned) == [0, 1, 2, 3]


def test_meta_without_version_rebuilds(dense, tmp_path):
    """A meta written before versioned commits (no ``version``) is
    rebuilt, whatever its params."""
    import json

    path = str(tmp_path / "ix")
    ensure_index("ivf", dense, path, n_clusters=4, indexing_threshold=0)
    meta = read_meta("ivf", path)
    del meta["version"]
    versioned.write_text(os.path.join(path, "ivf_meta.json"),
                         json.dumps(meta))
    _, action = ensure_index("ivf", dense, path, n_clusters=4,
                             indexing_threshold=0)
    assert action == "rebuilt"
    assert "version" in read_meta("ivf", path)


def test_unknown_param_is_rejected(dense, tmp_path):
    with pytest.raises(TypeError, match="n_cluster"):
        ensure_index("ivf", dense, str(tmp_path), n_cluster=4)


def test_commit_retains_target_and_previous(tmp_path):
    """Retention by lineage over 100 commits, any id gaps: the live
    target and the one it replaced survive, nothing else."""
    root = str(tmp_path)
    prev = None
    for n in range(0, 300, 3):
        name = f"_v{n}"
        os.makedirs(os.path.join(root, name))
        versioned.commit(root, "CURRENT", name, name, prev)
        assert versioned.read_pointer(root, "CURRENT") == name
        kept = sorted(d for d in os.listdir(root) if d.startswith("_v"))
        assert kept == sorted({name, prev} - {None})
        prev = name
    assert versioned.fresh_version(root) == 298


# -- in-memory vs rooted client ensures --------------------------------------

_DENSE = {"size": 8, "distance": "Cosine"}
_MULTI = {"size": 8, "distance": "Dot",
          "multivector_config": {"comparator": "max_sim"}}
_SCALAR = {"scalar": {"full_scan_threshold": 0}}

#: kind -> (vector config, ensure kwargs)
_CLIENT_CASES = {
    "ivf": (_DENSE, {"n_clusters": 4}),
    "quant": (dict(_DENSE, quantization_config=_SCALAR), {}),
    "quant_ivf": (dict(_DENSE, quantization_config=_SCALAR),
                  {"n_clusters": 4, "nprobe": 2}),
    "maxsim": (dict(_MULTI, index={"full_scan_threshold": 0}),
               {"n_clusters": 4, "nprobe": 2}),
    "maxsim_quant": (dict(_MULTI, quantization_config=_SCALAR), {}),
    "maxsim_codes": (dict(_MULTI, quantization_config=_SCALAR,
                          index={"n_clusters": 4, "nprobe": 2,
                                 "full_scan_threshold": 0,
                                 "clustered_codes": True}), {}),
}


@pytest.mark.parametrize("kind", sorted(_CLIENT_CASES))
def test_in_memory_and_rooted_ensures_agree(kind, spark, tmp_path):
    from qdrant_spark.client import QdrantSparkClient

    cfg, kw = _CLIENT_CASES[kind]
    rng = np.random.default_rng(5)
    multi = "multivector_config" in cfg
    pts = [{"id": i, "vector": {"v": (rng.normal(size=(4, 8)) if multi
                                      else rng.normal(size=8)).tolist()}}
           for i in range(200)]
    q = pts[17]["vector"]["v"]
    got = []
    for root in (None, str(tmp_path)):
        c = QdrantSparkClient(spark, root=root)
        c.create_collection("c", vectors_config={"v": cfg})
        c.upsert("c", pts)
        action = c.ensure_vector_index("c", using="v", indexing_threshold=0,
                                       **kw)
        res = c.query_points("c", query=q, using="v", limit=10,
                             with_payload=False)
        got.append((action, [(p.id, round(p.score, 9)) for p in res.points]))
        if root is not None and kind == "maxsim_codes":
            route = c._coll("c").mv_idx["v"]
            assert route.index.clustered_codes is not None
    assert got[0] == got[1]
    assert got[0][0] == "built"
