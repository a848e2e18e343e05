"""Block-max WAND: A/B vs exhaustive scoring + pruning effectiveness.

SURVEY.md §7.8-5: pruning must NEVER change the returned top-k. The A/B here
is bit-exact (same bm25_scores float path); the integration-level guarantee
is tests/test_search.py, whose fixture queries now route pure conjunctions
through WAND and still diff rank-identical against the FTS5 oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pdfsearch_spark.analyzer import tokenize, unicode61_tokens
from pdfsearch_spark.codec import encode_shard_frame
from pdfsearch_spark.query.parser import parse_query
from pdfsearch_spark.query.scorer import bm25_scores, idf_of, score_shard, wand_shard_topk
from pdfsearch_spark.search import _topk

N_DOCS = 20_000
AVGDL = 140.0


def _make_term(rng, df, tf_hi):
    doc_ids = np.sort(
        rng.choice(np.arange(1, N_DOCS * 10, dtype=np.int64), size=df, replace=False)
    )
    tfs = rng.integers(1, tf_hi, size=df, dtype=np.int64)
    dls = rng.integers(20, 400, size=df, dtype=np.int64)
    positions = [np.arange(t, dtype=np.int64) for t in tfs]
    return doc_ids, tfs, dls, positions


def _frame(lists: dict, segment: int | None = None) -> pd.DataFrame:
    """Posting rows of one shard through the build's encoder. ``lists`` maps
    term -> (doc_ids ascending, tfs, dls, positions); the encoder gets them
    sorted by (term, doc_id)."""
    terms = sorted(lists)

    def cat(i):
        return np.concatenate([lists[t][i] for t in terms])

    frame = pd.DataFrame(
        encode_shard_frame(
            np.concatenate([np.full(len(lists[t][0]), t, dtype=object) for t in terms]),
            cat(0),
            cat(1),
            cat(2),
            [p for t in terms for p in lists[t][3]],
            AVGDL,
        )
    )
    if segment is not None:
        frame["segment"] = segment
    return frame


@pytest.fixture(scope="module")
def shard():
    rng = np.random.Generator(np.random.Philox(key=[11, 3]))
    spec = {"common": (6000, 8), "mid": (900, 6), "rare": (60, 12)}
    raw = {}
    for term, (df, tf_hi) in spec.items():
        doc_ids, tfs, dls, positions = _make_term(rng, df, tf_hi)
        raw[term] = (doc_ids, tfs, dls)
    # shared dl per doc across terms (dl is a doc property): one global
    # dl table
    dl_table = {}
    for term in spec:
        doc_ids, tfs, _ = raw[term]
        for d in doc_ids.tolist():
            dl_table.setdefault(d, int(rng.integers(20, 400)))
    lists = {}
    for term in spec:
        doc_ids, tfs, _ = raw[term]
        dls = np.array([dl_table[d] for d in doc_ids.tolist()], dtype=np.int64)
        positions = [np.arange(t, dtype=np.int64) for t in tfs]
        lists[term] = (doc_ids, tfs, dls, positions)
        raw[term] = (doc_ids, tfs, dls)
    return _frame(lists), raw


def _brute_topk(raw, phrase_terms, idfs, k, books=None):
    terms = sorted(set(phrase_terms))
    docs = raw[terms[0]][0]
    for t in terms[1:]:
        docs = np.intersect1d(docs, raw[t][0], assume_unique=True)
    if books is not None:
        docs = docs[np.isin(docs, books)]
    if len(docs) == 0:
        return None
    P = len(phrase_terms)
    vis = np.empty((len(docs), P), dtype=np.int64)
    dls = np.empty(len(docs), dtype=np.int64)
    for pi, t in enumerate(phrase_terms):
        tdocs, ttfs, tdls = raw[t]
        loc = np.searchsorted(tdocs, docs)
        vis[:, pi] = ttfs[loc]
        dls[:] = tdls[loc]
    scores = bm25_scores(vis, dls, np.asarray(idfs), AVGDL)
    order = np.lexsort((docs, scores))[:k]
    return docs[order], scores[order]


@pytest.mark.parametrize(
    "phrase_terms",
    [
        ["common"],
        ["rare"],
        ["common", "mid"],
        ["common", "mid", "rare"],
        ["common", "common"],  # repeated phrase: both columns contribute
        ["mid", "rare"],
    ],
)
@pytest.mark.parametrize("k", [10, 200])
def test_wand_matches_bruteforce(shard, phrase_terms, k):
    pdf, raw = shard
    idfs = np.array([idf_of(len(raw[t][0]), N_DOCS) for t in phrase_terms])
    res = wand_shard_topk(pdf, phrase_terms, idfs, AVGDL, k)
    exp = _brute_topk(raw, phrase_terms, idfs, k)
    assert (res is None) == (exp is None)
    if res is None:
        return
    got_docs, got_scores = res
    order = np.lexsort((got_docs, got_scores))
    got_docs, got_scores = got_docs[order], got_scores[order]
    exp_docs, exp_scores = exp
    assert (got_docs == exp_docs).all()
    # same float path → bit-equal scores
    assert (got_scores == exp_scores).all()


def test_wand_missing_term_returns_none(shard):
    pdf, raw = shard
    idfs = np.array([1.0, 1.0])
    assert wand_shard_topk(pdf, ["common", "absent"], idfs, AVGDL, 10) is None


def test_wand_book_filter(shard):
    pdf, raw = shard
    phrase_terms = ["common", "mid"]
    idfs = np.array([idf_of(len(raw[t][0]), N_DOCS) for t in phrase_terms])
    inter = np.intersect1d(raw["common"][0], raw["mid"][0])
    books = np.sort(inter[::3])
    res = wand_shard_topk(pdf, phrase_terms, idfs, AVGDL, 25, books=books)
    exp = _brute_topk(raw, phrase_terms, idfs, 25, books=books)
    got_docs, got_scores = res
    order = np.lexsort((got_docs, got_scores))
    assert (got_docs[order] == exp[0]).all()
    assert (got_scores[order] == exp[1]).all()


def test_wand_actually_prunes(shard):
    """With k=10 over a 6000-doc head term, most blocks must be skipped
    without decoding — the whole point of block-max metadata at 10^12 docs."""
    pdf, raw = shard
    idfs = np.array([idf_of(len(raw["common"][0]), N_DOCS)])
    counters: dict = {}
    wand_shard_topk(pdf, ["common"], idfs, AVGDL, 10, counters=counters)
    skipped = counters.get("blocks_skipped", 0) + counters.get("blocks_dead", 0)
    assert counters["blocks_total"] > 10
    assert skipped > counters["blocks_total"] * 0.3, counters


def test_wand_randomized_multisegment_ab():
    """Seeded sweep: random term sets, overlaps, ks, and SEGMENTED posting
    frames (disjoint doc ranges per segment, as refresh produces). One WAND
    call per segment, merged by the engine's top-k rule, must match brute
    force exactly."""
    rng = np.random.Generator(np.random.Philox(key=[23, 1]))
    for trial in range(12):
        n_terms = int(rng.integers(1, 4))
        n_segs = int(rng.integers(1, 4))
        # global doc universe, segments = disjoint contiguous ranges
        seg_bounds = np.sort(rng.choice(np.arange(1, 10**6), size=n_segs - 1, replace=False)) if n_segs > 1 else np.array([], dtype=np.int64)
        bounds = np.concatenate([[0], seg_bounds, [10**6]]).astype(np.int64)
        raw = {}  # term -> (docs, tfs, dls) global
        seg_lists = [{} for _ in range(n_segs)]
        names = [f"t{j}" for j in range(n_terms)]
        shared = np.sort(
            rng.choice(np.arange(1, 10**6, dtype=np.int64),
                       size=int(rng.integers(50, 400)), replace=False)
        )  # ensure the conjunction has matches
        for term in names:
            df = int(rng.integers(100, 2500))
            own = rng.choice(np.arange(1, 10**6, dtype=np.int64), size=df, replace=False)
            docs = np.unique(np.concatenate([own, shared]))
            tfs = rng.integers(1, 9, size=len(docs), dtype=np.int64)
            # dl is a doc property: derive from the doc id so it is
            # consistent across terms (brute-force parity)
            dls = (docs % 300 + 20).astype(np.int64)
            raw[term] = (docs, tfs, dls)
            for s in range(n_segs):
                m = (docs >= bounds[s]) & (docs < bounds[s + 1])
                if not m.any():
                    continue
                seg_lists[s][term] = (
                    docs[m], tfs[m], dls[m],
                    [np.arange(t, dtype=np.int64) for t in tfs[m]],
                )
        pdf = pd.concat(
            [_frame(lists, s) for s, lists in enumerate(seg_lists) if lists],
            ignore_index=True,
        )
        phrase_terms = [names[int(rng.integers(0, n_terms))] for _ in range(int(rng.integers(1, 4)))]
        k = int(rng.integers(1, 300))
        idfs = np.array([idf_of(len(raw[t][0]), N_DOCS * 50) for t in phrase_terms])
        per_seg = [
            wand_shard_topk(seg_rows, phrase_terms, idfs, AVGDL, k)
            for _, seg_rows in pdf.groupby("segment")
        ]
        per_seg = [r for r in per_seg if r is not None]
        exp = _brute_topk(raw, phrase_terms, idfs, k)
        assert (not per_seg) == (exp is None), f"trial {trial}"
        if not per_seg:
            continue
        got_docs, got_scores = _topk(
            np.concatenate([d for d, _ in per_seg]),
            np.concatenate([s for _, s in per_seg]),
            k,
        )
        assert (got_docs == exp[0]).all(), f"trial {trial}"
        assert (got_scores == exp[1]).all(), f"trial {trial}"


def test_postings_spanning_segments_are_refused():
    """The scorer reads one (segment, shard) at a time: a posting frame
    holding one term in two segments is refused by both shard functions
    instead of being merged."""
    frames = []
    for seg, lo in ((0, 1), (1, 10_000)):
        docs = np.arange(lo, lo + 300, dtype=np.int64)
        tfs = np.ones(len(docs), dtype=np.int64)
        lists = {
            "common": (
                docs, tfs, np.full(len(docs), 50, dtype=np.int64),
                [np.zeros(1, dtype=np.int64)] * len(docs),
            )
        }
        frames.append(_frame(lists, seg))
    pdf = pd.concat(frames, ignore_index=True)
    tree, phrases = parse_query("common", tokenize, unicode61_tokens)
    with pytest.raises(ValueError, match="segment"):
        score_shard(pdf, tree, phrases, {}, N_DOCS, AVGDL, None, 10)
    with pytest.raises(ValueError, match="segment"):
        wand_shard_topk(pdf, ["common"], np.array([1.0]), AVGDL, 10)


def test_wand_dead_blocks_skip_decode():
    """Disjoint doc-id ranges: every pivot block is dead (no overlapping
    block of the other term) — zero decodes, None result."""
    rng = np.random.Generator(np.random.Philox(key=[5, 9]))
    lists = {}
    spans = {"lowrange": (1, 50_000), "highrange": (150_000, 199_999)}
    raw = {}
    for term, (lo, hi) in spans.items():
        doc_ids = np.sort(
            rng.choice(np.arange(lo, hi, dtype=np.int64), size=700, replace=False)
        )
        tfs = rng.integers(1, 5, size=700, dtype=np.int64)
        dls = rng.integers(20, 300, size=700, dtype=np.int64)
        lists[term] = (doc_ids, tfs, dls, [np.arange(t, dtype=np.int64) for t in tfs])
        raw[term] = doc_ids
    pdf = _frame(lists)
    counters: dict = {}
    res = wand_shard_topk(
        pdf, ["lowrange", "highrange"], np.array([2.0, 2.0]), AVGDL, 10, counters=counters
    )
    assert res is None
    assert counters["blocks_dead"] == counters["blocks_total"] > 0
