"""The one-phrase path's idf-free top-k, driver-only (no Spark).

FTS5 scores a one-phrase query as −idf·f(tf, dl) with idf ≥ 1e-6
(``scorer.idf_of``), so each (segment, shard) group keeps its top-k by the
unit-idf score and the driver rescores only the kept rows at the true idf
(search.SearchEngine._shard_pass / _execute). This pins that the result
equals the exhaustive top-k at the true idf under the rank-identity rule
(perfbench/check.py: equal score sequences to 1e-9, equal membership above
the boundary plateau). Docs whose f differ only in the last bits can swap
order once multiplied by the idf; the groups are seeded with such
near-ties: (tf, dl) and (m·tf, m·dl + (m−1)·avgdl/3) tie in exact
arithmetic (k1 = 1.2, b = 0.75), not in floats."""

from __future__ import annotations

import numpy as np

from pdfsearch_spark.query.scorer import bm25_scores, idf_of
from pdfsearch_spark.search import _best_per_query, _frame, _topk, _topk_order
from perfbench.check import rank_mismatch

AVGDL = 30.0  # avgdl / 3 = 10: near-tie partners have integer dl
# the idf at which a one-phrase query's group ranks its hits
_UNIT_IDF = np.ones(1)


def _group(rng, doc_base: int):
    """One group's (doc_ids, dls, vis) with random rows, exact ties and
    near-tie partners."""
    n = int(rng.integers(0, 120))
    tf = rng.integers(1, 6, n)
    dl = rng.integers(1, 90, n)
    m = rng.integers(2, 4, n)
    partner = rng.random(n) < 0.5
    tf = np.concatenate([tf, (m * tf)[partner]])
    dl = np.concatenate([dl, (m * dl + (m - 1) * 10)[partner]])
    dup = rng.integers(0, len(tf), len(tf) // 4) if len(tf) else np.zeros(0, int)
    tf, dl = np.concatenate([tf, tf[dup]]), np.concatenate([dl, dl[dup]])
    ids = doc_base + rng.permutation(len(tf) * 3)[: len(tf)].astype(np.int64)
    return ids, dl.astype(np.int64), tf.astype(np.int64).reshape(-1, 1)


def test_idf_free_group_topk_equals_exhaustive():
    rng = np.random.default_rng(20261019)
    n_groups = swapped = 0
    for case in range(600):
        k = int(rng.choice([1, 2, 5, 10, 37, 200]))
        df = int(rng.integers(1, 5000))
        n_docs = int(rng.choice([df, df * 2, df * 50, 10**6]))
        idfs = np.array([idf_of(df, n_docs)])
        groups = [_group(rng, g << 20) for g in range(int(rng.integers(1, 9)))]
        n_groups += len(groups)
        kept = []
        for ids, dl, vis in groups:
            keep = _topk_order(ids, bm25_scores(vis, dl, _UNIT_IDF, AVGDL), k)
            kept.append(_frame(case, ids[keep], dls=dl[keep], vis=list(vis[keep])))
        got = _best_per_query(kept, {case: idfs}, AVGDL, k).get(case)
        ids = np.concatenate([g[0] for g in groups])
        dl = np.concatenate([g[1] for g in groups])
        vis = np.concatenate([g[2] for g in groups])
        true = bm25_scores(vis, dl, idfs, AVGDL)
        want = _topk(ids, true, k)
        if got is None:
            assert len(ids) == 0
            continue
        assert rank_mismatch(list(zip(*want)), list(zip(*got))) is None, case
        f_order = _topk_order(ids, bm25_scores(vis, dl, _UNIT_IDF, AVGDL), len(ids))
        swapped += not np.array_equal(f_order, _topk_order(ids, true, len(ids)))
    assert n_groups > 2000
    # the seeded near-ties really do reorder under the true idf
    assert swapped > 0
