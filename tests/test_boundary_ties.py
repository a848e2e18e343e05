"""k-boundary score-tie stress (VERDICT r4 item 5, third arm).

The corpus is ENGINEERED to tie at the top-k boundary: a cohort of docs
with byte-identical text scores byte-identically for any query they match
(same tf vector, same dl, shared global stats), so with k smaller than the
cohort the k-th rank falls inside a tie plateau. FTS5 keeps a
NONDETERMINISTIC member at an exact boundary tie (physical rowid order —
meaningless in a partitioned engine), so rank-identity at a tie boundary is
defined exactly as bench.assert_rank_identity and the fuzz harness define
it (``perfbench.check.rank_mismatch``): pairwise-equal score sequences,
each side sorted by (score, doc_id) + identical membership for every score
strictly better than the boundary + boundary rows drawn from the tied
cohort. The engine itself must additionally be DETERMINISTIC (score, then
doc_id ascending) — re-running a tied query twice returns identical rows,
and the batch path returns exactly what the per-query path returns.
"""

from __future__ import annotations

import shutil

import pandas as pd
import pytest

from pdfsearch_spark.extract import extract_text
from pdfsearch_spark.index_build import build_index, shard_of
from pdfsearch_spark.oracle import FTS5Oracle
from pdfsearch_spark.search import SearchEngine
from perfbench.check import rank_mismatch

IDX = "/tmp/pdfsearch_boundary_idx"
SPREAD_IDX = "/tmp/pdfsearch_boundary_spread_idx"

# 40-doc tie cohort + 10 strictly-better docs + fillers
TIED = ["alpha beta gamma delta epsilon"] * 40
BETTER = ["alpha alpha beta gamma delta"] * 10  # higher tf(alpha), same dl
FILLER = [
    "zeta eta theta",
    "iota kappa lambda epsilon",
    "mu nu xi",
    "omicron pi rho gamma",
]
TEXTS = TIED + BETTER + FILLER

K = 15  # 10 strictly-better + 5 of the 40-way tie -> boundary inside the tie

QUERIES = [
    "alpha",
    "alpha beta",
    '"beta gamma"',
    "alpha OR epsilon",
    "gam*",
    "^alpha",
    "NEAR(alpha delta, 4)",
    '"beta gamma" alpha',
]


@pytest.fixture(scope="module")
def pair(spark):
    yield _build(spark, IDX, [f"http://ties.example/d{i}" for i in range(len(TEXTS))])
    shutil.rmtree(IDX, ignore_errors=True)


@pytest.fixture(scope="module")
def spread_pair(spark):
    """The same corpus under urls whose ids spread over all 4 shards: FNV-1
    ids of urls that differ only in their last bytes share their top bits,
    hence their shard (``pair``'s cohort sits in 2 of the 4)."""
    yield _build(spark, SPREAD_IDX, [f"http://ties.example/d{i}.html" for i in range(len(TEXTS))])
    shutil.rmtree(SPREAD_IDX, ignore_errors=True)


def _build(spark, idx, urls):
    htmls = [f"<html><body><p>{t}</p></body></html>".encode() for t in TEXTS]
    ts = pd.to_datetime("2025-01-01")
    pdf = pd.DataFrame(
        {"url": urls, "warc_ts": ts, "html": htmls, "text": None, "lang": "en"}
    )
    pdf["text"] = [extract_text(h) for h in pdf["html"]]
    oracle = FTS5Oracle()
    oracle.load(pdf)
    pages = spark.createDataFrame(
        pdf[["url", "warc_ts", "html", "text", "lang"]]
    )
    shutil.rmtree(idx, ignore_errors=True)
    build_index(spark, pages, idx, n_shards=4)
    return SearchEngine(spark, idx), oracle


def _engine_rows(eng, q, k=K):
    rows = (
        eng.search(q, k=k, with_snippets=False)
        .select("doc_id", "score")
        .collect()
    )
    return sorted((r["doc_id"], r["score"]) for r in rows)


def _assert_tie_aware_identity(eng, oracle, q):
    """The engine's top K equals the oracle's under ``rank_mismatch``'s
    (score, doc_id) rule, and every boundary doc the engine keeps is a true
    member of the corpus-wide tie at the boundary score."""
    o = [(r.doc_id, r.score) for r in oracle.search(q, k=K)]
    e = _engine_rows(eng, q)
    reason = rank_mismatch(o, e)
    assert reason is None, f"{q!r}: {reason}"
    if not o:
        return
    boundary = max(s for _, s in o)
    full_o = {r.doc_id: r.score for r in oracle.search(q, k=len(TEXTS))}
    for d, s in e:
        if abs(s - boundary) < 1e-9:
            assert abs(full_o[d] - boundary) < 1e-9, (
                f"{q!r}: engine boundary doc {d} is not a true tie member"
            )


@pytest.mark.parametrize("q", QUERIES, ids=lambda q: q[:30])
def test_boundary_tie_rank_identity(pair, q):
    _assert_tie_aware_identity(*pair, q)


@pytest.mark.parametrize("q", QUERIES, ids=lambda q: q[:30])
def test_boundary_tie_rank_identity_spread(spread_pair, q):
    """The same rule where the tie cohort spans all 4 shards, so FTS5's
    and the engine's boundary members need not share doc-id positions."""
    _assert_tie_aware_identity(*spread_pair, q)


def test_tie_plateau_really_spans_boundary(pair):
    """Sanity of the fixture itself: for 'alpha' at k=15 the boundary score
    must have MORE tied docs corpus-wide than slots left after the strictly
    better ones — otherwise this file stresses nothing."""
    _, oracle = pair
    full = [r.score for r in oracle.search("alpha", k=len(TEXTS))]
    topk = full[:K]
    boundary = topk[-1]
    n_tied_corpus = sum(1 for s in full if abs(s - boundary) < 1e-9)
    n_tied_topk = sum(1 for s in topk if abs(s - boundary) < 1e-9)
    assert n_tied_corpus > n_tied_topk, (n_tied_corpus, n_tied_topk)


def test_boundary_tie_engine_deterministic(pair):
    """Unlike FTS5 (physical rowid order at ties), the engine's tie-break is
    total (score asc, doc_id asc): byte-identical results on every rerun."""
    eng, _ = pair
    for q in QUERIES:
        assert _engine_rows(eng, q) == _engine_rows(eng, q), q


def test_boundary_tie_batch_matches_search(pair):
    """search_batch must pick the SAME deterministic boundary members as
    the per-query path (rank-identity between the engine's own two paths
    is exact equality, not just tie-aware equality)."""
    eng, _ = pair
    rows = eng.search_batch(QUERIES, k=K).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in enumerate(QUERIES):
        assert sorted(by_q.get(qid, [])) == _engine_rows(eng, q), q


@pytest.mark.parametrize(
    "q", ["gam*", "^alpha", "alpha beta", "NEAR(alpha delta, 4)", '"beta gamma" alpha']
)
def test_one_phrase_plateau_across_groups(spread_pair, q):
    """A one-phrase query's groups each keep their own top-k by the
    idf-free score, an a-priori query's (the pure conjunction, the NEAR) and
    a df-pass query's (the phrase AND term) by its true score, and the
    driver merges them. With the tied cohort spread over all
    4 shards and the boundary inside it, the engine must keep the cohort's
    smallest doc ids — the global (score, doc_id) rule, not one group's."""
    eng, oracle = spread_pair
    full = sorted((r.score, r.doc_id) for r in oracle.search(q, k=len(TEXTS)))
    boundary = full[K - 1][0]
    strict = [d for s, d in full if s < boundary - 1e-9]
    cohort = sorted(d for s, d in full if abs(s - boundary) < 1e-9)
    assert len(strict) < K < len(strict) + len(cohort)
    assert {shard_of(d, 4) for d in cohort} == {0, 1, 2, 3}
    got = _engine_rows(eng, q)
    want = [(r.doc_id, r.score) for r in oracle.search(q, k=K)]
    assert rank_mismatch(want, got) is None, q
    assert sorted(d for d, _ in got) == sorted(strict + cohort[: K - len(strict)])
    for d, score in got:
        if d in cohort:
            assert abs(score - boundary) < 1e-9, (d, score, boundary)
