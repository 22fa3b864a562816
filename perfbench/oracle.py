"""Independent NumPy oracle: a driver-side mirror of the points the
library holds, answering exact cosine top-k (score desc, id asc), filtered
counts and facets so every benchmark result can be checked."""

from __future__ import annotations

import numpy as np

#: absolute score tolerance: both sides score float32 vectors in float64,
#: only the summation order differs
SCORE_TOL = 1e-6


def unit_rows(m: np.ndarray) -> np.ndarray:
    m = np.asarray(m, dtype=np.float64)
    return m / np.linalg.norm(m, axis=1, keepdims=True)


class Mirror:
    """Point ids, float32 vectors and optional payload columns, kept in
    step with every write the benchmark sends to the library."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray,
                 payload: dict[str, np.ndarray] | None = None):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.unit = unit_rows(vecs)
        self.payload = {k: np.asarray(v) for k, v in (payload or {}).items()}
        self.pos = {int(i): p for p, i in enumerate(self.ids)}

    def __len__(self) -> int:
        return len(self.ids)

    def upsert(self, ids: np.ndarray, vecs: np.ndarray,
               payload: dict[str, np.ndarray] | None = None) -> None:
        unit = unit_rows(vecs)
        at = np.array([self.pos.get(int(i), -1) for i in ids])
        old = at >= 0
        self.unit[at[old]] = unit[old]
        for k, v in (payload or {}).items():
            self.payload[k][at[old]] = np.asarray(v)[old]
        new = ~old
        if new.any():
            base = len(self.ids)
            self.ids = np.concatenate([self.ids, ids[new]])
            self.unit = np.concatenate([self.unit, unit[new]])
            for k, v in (payload or {}).items():
                self.payload[k] = np.concatenate(
                    [self.payload[k], np.asarray(v)[new]])
            for j, i in enumerate(ids[new]):
                self.pos[int(i)] = base + j

    def topk(self, queries: np.ndarray, k: int = 10,
             mask: np.ndarray | None = None) -> list[tuple[np.ndarray, np.ndarray]]:
        """Exact cosine top-k per query row: [(ids, scores)], best first,
        ties broken by id ascending."""
        unit, ids = self.unit, self.ids
        if mask is not None:
            unit, ids = unit[mask], ids[mask]
        q = unit_rows(np.atleast_2d(queries))
        scores = unit @ q.T
        out = []
        kk = min(k + 8, len(ids))
        for j in range(q.shape[0]):
            s = scores[:, j]
            cand = np.argpartition(-s, kk - 1)[:kk] if kk < len(ids) \
                else np.arange(len(ids))
            order = np.lexsort((ids[cand], -s[cand]))[:k]
            out.append((ids[cand][order], s[cand][order]))
        return out

    def mask(self, cat: str | None = None, price_lt: float | None = None,
             tenant_lt: int | None = None) -> np.ndarray:
        m = np.ones(len(self.ids), dtype=bool)
        if cat is not None:
            m &= self.payload["cat"] == cat
        if price_lt is not None:
            m &= self.payload["price"] < price_lt
        if tenant_lt is not None:
            m &= self.payload["tenant"] < tenant_lt
        return m

    def facet(self, key: str, mask: np.ndarray) -> dict:
        vals, counts = np.unique(self.payload[key][mask], return_counts=True)
        return {v.item(): int(c) for v, c in zip(vals, counts)}


def hits_match(got_ids, got_scores, exp_ids, exp_scores,
               tol: float = SCORE_TOL) -> bool:
    """Same ranked hits as the oracle: equal length, scores equal within
    ``tol`` rank by rank, and ids equal except where the oracle itself has
    a tie within ``tol`` (swapped neighbours or a boundary tie)."""
    got_ids, exp_ids = list(got_ids), list(exp_ids)
    if len(got_ids) != len(exp_ids):
        return False
    gs, es = np.asarray(got_scores, float), np.asarray(exp_scores, float)
    if len(gs) and np.max(np.abs(gs - es)) > tol:
        return False
    where = {i: r for r, i in enumerate(exp_ids)}
    for r, i in enumerate(got_ids):
        if i == exp_ids[r]:
            continue
        j = where.get(i)
        ref = es[j] if j is not None else es[-1]
        if abs(ref - es[r]) > tol:
            return False
    return True


def recall(got_ids, exp_ids) -> float:
    exp = list(exp_ids)
    return len(set(got_ids) & set(exp)) / max(1, len(exp))
