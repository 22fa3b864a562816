"""The Arrow score-and-top-k kernel's running k-th cut
(``knn.topk_kernel`` / ``knn.running_cut``), without Spark: randomized
multi-block tasks compared with one global sort of every scored entry
under the final window's order (score direction, NaN last, id
ascending). Ties on the k-th score across blocks, NaN scores, copies
collapsed by ``dedup_ids``, per-row ids, blocks that carry a subset of
the queries (IVF clusters), k larger than a block and blocks that each
beat the last (the partition fallback) are covered.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from qdrant_spark.operators import knn as K

Q = 6


class _Batch:
    """A stand-in Arrow batch: the kernel reads ``num_rows`` and hands
    the batch to ``blocks``, which yields its precomputed blocks."""

    def __init__(self, blocks):
        self.blocks = blocks
        self.num_rows = sum(len(b[1]) if b[1].ndim == 1 else b[1].shape[1]
                            for b in blocks) or 1


def _run(batches, k, bigger, dedup=False):
    run = K.topk_kernel(lambda b: iter(b.blocks), k=k, bigger_better=bigger,
                        qids=[100 + q for q in range(Q)], qid_col="qid",
                        id_col="id", dedup_ids=dedup)
    out = [tuple(r.values()) for rb in run(iter(batches))
           for r in rb.to_pylist()]
    return [(q, i, _s(s)) for q, i, s in out]


def _s(x: float):
    return "nan" if math.isnan(x) else x


def _oracle(batches, k, bigger):
    """Each query's k best (qid, id, score) by one global sort; copies of
    an id within a query count once."""
    seen: dict[int, dict] = {}
    for b in batches:
        for qidx, ids, S in b.blocks:
            for r, q in enumerate(qidx):
                row_ids = ids if ids.ndim == 1 else ids[r]
                for c, i in enumerate(row_ids):
                    seen.setdefault(int(q), {})[int(i)] = float(S[r, c])
    out = []
    for q in sorted(seen):
        def key(item):
            i, s = item
            return (math.isnan(s), 0.0 if math.isnan(s)
                    else (-s if bigger else s), i)
        best = sorted(seen[q].items(), key=key)[:k]
        out += [(100 + q, i, _s(s)) for i, s in best]
    return out


def _task(rng, case: str, n_blocks: int = 5):
    """``n_blocks`` batches of one block each (two for ``subset``)."""
    pool = iter(rng.permutation(100_000))  # ids in no block order
    table = rng.integers(0, 4, size=(Q, 40)) / 4.0  # dedup: score of (q, id)
    batches = []
    for b in range(n_blocks):
        blocks = []
        for _ in range(2 if case == "subset" else 1):
            n = int(rng.integers(2, 6)) if case == "small" \
                else int(rng.integers(20, 60))
            qidx = (np.sort(rng.choice(Q, size=int(rng.integers(1, Q)),
                                       replace=False))
                    if case == "subset" else np.arange(Q))
            if case == "dedup":
                ids = rng.integers(0, 40, size=n)
                S = table[qidx][:, ids]
            else:
                rows = len(qidx) if case == "ids2d" else 1
                ids = np.fromiter(pool, dtype=np.int64, count=rows * n)
                ids = ids.reshape(rows, n) if case == "ids2d" else ids
                # few levels: ties on the k-th score; an offset per
                # query: a threshold read for the wrong query shows
                levels = 5 if case in ("ties", "small") else 40
                S = rng.integers(0, levels, size=(len(qidx), n)) / 4.0 \
                    + 3.0 * qidx[:, None]
                if case == "sorted":
                    S = S + 100.0 * b  # every block beats the last
                if case == "nan":
                    S[rng.random(S.shape) < 0.3] = np.nan
                    S[0] = np.nan  # one query scores nothing
            blocks.append((qidx, ids, S))
        batches.append(_Batch(blocks))
    return batches


@pytest.mark.parametrize("case", ["ties", "nan", "dedup", "ids2d", "subset",
                                  "small", "sorted"])
@pytest.mark.parametrize("bigger", [True, False])
@pytest.mark.parametrize("seed", range(6))
def test_running_cut_matches_global_sort(case, bigger, seed):
    rng = np.random.default_rng(seed)
    batches = _task(rng, case)
    for k in (1, 3, 7):
        got = _run(batches, k, bigger, dedup=case == "dedup")
        assert got == _oracle(batches, k, bigger), (case, k)


def test_zero_k_emits_nothing():
    rng = np.random.default_rng(0)
    batches = _task(rng, "ties")
    assert _run(batches, 0, True) == []
    qi, cols, cid = K.topk_cut(np.zeros((3, 10)), np.arange(10), 0)
    assert len(qi) == len(cols) == len(cid) == 0


def test_later_blocks_skip_the_partition(monkeypatch):
    """A 4-block, all-query task with finite scores partitions only its
    first block; the later ones are cut by the mask alone."""
    calls = []
    orig = K.topk_cut
    monkeypatch.setattr(K, "topk_cut",
                        lambda *a: calls.append(1) or orig(*a))
    rng = np.random.default_rng(1)
    batches = [_Batch([(np.arange(Q), np.arange(b * 200, (b + 1) * 200),
                        rng.normal(size=(Q, 200)))]) for b in range(4)]
    got = _run(batches, 5, True)
    assert len(calls) == 1
    monkeypatch.setattr(K, "topk_cut", orig)
    assert got == _oracle(batches, 5, True)
