"""The positional kernel on multi-block posting lists, against FTS5.

About 1,500 seeded corpus docs go into ONE shard through the build's own
encode body (``encode_docs_partitions(None, 0)``), so head terms span many
128-posting blocks and ``PostingList.positions`` decodes a subset of them.
Every phrase, anchor, prefix and NEAR match of ``score_shard``, scored by
``bm25_scores`` at its local dfs (one shard: local df = global df), must
equal the FTS5 oracle's (doc_id, score) over the same docs to 1e-9. No
Spark: the engine's fixtures hold ~31 docs per shard, too few for a second
block.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pdfsearch_spark import corpus
from pdfsearch_spark.analyzer import tokenize, unicode61_tokens
from pdfsearch_spark.codec import BLOCK
from pdfsearch_spark.extract import extract_text
from pdfsearch_spark.fnv import fnv1_64_signed
from pdfsearch_spark.index_build import encode_docs_partitions
from pdfsearch_spark.oracle import FTS5Oracle
from pdfsearch_spark.query import scorer
from pdfsearch_spark.query.parser import parse_query

N_DOCS = 1500
SEED = 1801


def _queries() -> list[str]:
    v = corpus._vocab_and_zipf()[0]
    return [
        # phrases
        f'"{v[0]} {v[1]}"',
        f'"{v[1]} {v[0]}"',
        f'"{v[2]} {v[2]}"',
        f'"{v[0]} {v[1]} {v[2]}"',
        f'"{v[3]} {v[0]} {v[1]}"',
        # anchors
        f"^{v[0]}",
        f"^{v[4]}",
        f'^"{v[0]} {v[1]}"',
        # prefixes, bare and inside a phrase
        f"{v[0][:3]}*",
        f"{v[5][:2]}*",
        f'"{v[0]} {v[1][:3]}*"',
        f'"{v[2]} {v[0]} {v[3][:2]}*"',
        # NEAR: two and three phrases, a multi-term phrase, a prefix
        f"NEAR({v[0]} {v[1]}, 3)",
        f"NEAR({v[6]} {v[7]}, 0)",
        f"NEAR({v[0]} {v[8]})",
        f"NEAR({v[0]} {v[1]} {v[2]}, 4)",
        f"NEAR({v[3]} {v[9]} {v[0]} {v[1]}, 6)",
        f'NEAR("{v[0]} {v[1]}" {v[2]}, 5)',
        f'NEAR("{v[0]} {v[1]}" "{v[1]} {v[0]}", 2)',
        f'NEAR("{v[0]} {v[1]}" {v[3][:3]}*, 4)',
        # FTS5 3.40.1 fails a NEAR over a multi-term phrase under OR
        # ("database disk image is malformed"), so AND and NOT here
        f'NEAR("{v[0]} {v[1]}" {v[2][:3]}*, 4) AND ^{v[4]}',
        f'NEAR("{v[0]} {v[1]}" {v[2][:3]}*, 4) NOT ^{v[4]}',
    ]


@pytest.fixture(scope="module")
def shard():
    rows = [corpus.gen_row(i, SEED) for i in range(N_DOCS)]
    docs = pd.DataFrame(
        {
            "url": [r["url"] for r in rows],
            "text": [extract_text(r["html"]) for r in rows],
        }
    )
    pdf = pd.DataFrame(
        {"shard": 0, "doc_id": [fnv1_64_signed(u) for u in docs["url"]], "text": docs["text"]}
    )
    post = pd.concat(list(encode_docs_partitions(None, 0)(iter([pdf]))), ignore_index=True)
    avgdl = sum(len(tokenize(t)) for t in docs["text"]) / N_DOCS
    oracle = FTS5Oracle()
    oracle.load(docs)
    return post, avgdl, oracle


def _engine(post, avgdl, q):
    """(doc_id, score) of every match, the engine's one-shard path: the
    scan's rows (exact terms, prefix matches), score_shard, bm25_scores."""
    tree, phrases = parse_query(q, tokenize, unicode61_tokens)
    terms = post["term"].astype(str)
    sel = np.zeros(len(post), dtype=bool)
    for p in phrases:
        sel |= terms.isin(p.terms[:-1] if p.prefix else p.terms).to_numpy()
        if p.prefix:
            sel |= terms.str.startswith(p.terms[-1]).to_numpy()
    res = scorer.score_shard(post[sel], tree, phrases, {}, N_DOCS, avgdl, None, 0)
    if res is None:
        return []
    matched, dls, vis, local_dfs = res
    idfs = np.array([scorer.idf_of(local_dfs[p.index], N_DOCS) for p in phrases])
    return sorted(zip(matched.tolist(), scorer.bm25_scores(vis, dls, idfs, avgdl).tolist()))


def test_head_terms_span_many_blocks(shard):
    post = shard[0]
    v = corpus._vocab_and_zipf()[0]
    blocks = post.set_index("term")["block_lens"].map(len)
    assert blocks[v[0]] >= 5 and blocks[v[2]] >= 3


@pytest.mark.parametrize("q", _queries())
def test_kernel_matches_fts5(shard, q):
    post, avgdl, oracle = shard
    want = sorted((r.doc_id, r.score) for r in oracle.search(q, k=10**6))
    got = _engine(post, avgdl, q)
    assert [d for d, _ in got] == [d for d, _ in want], q
    for (d, s), (_, w) in zip(got, want):
        assert abs(s - w) < 1e-9, (q, d, s, w)


def test_positions_decode_a_subset_of_blocks(shard, monkeypatch):
    """A phrase of a head term and a one-doc term decodes one position
    block of the head term's list, not its whole stream."""
    post, avgdl, _ = shard
    head = corpus._vocab_and_zipf()[0][0]
    terms = post["term"]
    lists = scorer.postings_by_term(post[terms.str.startswith("uniq") | (terms == head)])
    head_pl = lists.pop(head)
    head_docs = set(head_pl.whole()[0].tolist())
    rare = next(t for t, pl in sorted(lists.items()) if pl.whole()[0][0] in head_docs)
    calls = []
    positions = scorer.PostingList.positions

    def spy(self, idxs):
        calls.append((self.row.term, len(np.unique(idxs // BLOCK)), self.n_blocks))
        return positions(self, idxs)

    monkeypatch.setattr(scorer.PostingList, "positions", spy)
    _engine(post, avgdl, f'"{head} {rare}"')
    assert head_pl.n_blocks >= 5
    assert sorted(calls) == sorted([(head, 1, head_pl.n_blocks), (rare, 1, 1)])


def _near_brute(starts, lens, n):
    """Definition: an instance survives iff it is in some combination of
    one instance per phrase with <= n tokens between the furthest two."""
    import itertools

    out = [np.zeros(len(s), dtype=bool) for s in starts]
    for combo in itertools.product(*(range(len(s)) for s in starts)):
        st = [int(s[c]) for s, c in zip(starts, combo)]
        if max(0, max(st) - min(a + ln - 1 for a, ln in zip(st, lens)) - 1) <= n:
            for o, c in zip(out, combo):
                o[c] = True
    return out


@pytest.mark.parametrize("n_phrases", [1, 2, 3, 4])
def test_near_surviving_matches_its_definition(n_phrases):
    """near_surviving over several docs' keys equals the per-doc brute
    force over every combination, for overlapping and distant instances."""
    rng = np.random.Generator(np.random.Philox(key=[n_phrases, 18]))
    for _ in range(60):
        n = int(rng.choice([-1, 0, 1, 3, 10]))
        lens = rng.integers(1, 4, size=n_phrases).tolist()
        per_doc = [
            [np.unique(rng.integers(0, 40, size=int(rng.integers(1, 6)))) for _ in lens]
            for _ in range(int(rng.integers(1, 4)))
        ]
        keys = [
            np.concatenate([(r << 32) | doc[j] for r, doc in enumerate(per_doc)])
            for j in range(n_phrases)
        ]
        got = scorer.near_surviving(keys, lens, n)
        want = [np.concatenate(w) for w in zip(*(_near_brute(doc, lens, n) for doc in per_doc))]
        for g, w in zip(got, want):
            assert (g == w).all(), (n, lens, per_doc)
