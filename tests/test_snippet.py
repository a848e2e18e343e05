"""Snippet goldens vs the FTS5 oracle (SURVEY.md §5.3-4): byte equality of
snippet(pages, 2, '<b>', '</b>', '...', 16|60) for every (query, result-row)
pair (/root/reference/database/database.go:180-181)."""

from __future__ import annotations

import sqlite3

import pytest

from pdfsearch_spark import corpus
from pdfsearch_spark.analyzer import _tables, tokenize, unicode61_tokens
from pdfsearch_spark.fnv import fnv1_64_signed
from pdfsearch_spark.query.parser import parse_query
from pdfsearch_spark.query.snippet import (
    _sentence_starts,
    phrase_slot_table,
    snippet_pair,
    tokenize_offsets,
)

QUERIES = [
    x["query"]
    for x in corpus.reference_queries()
    if not x["expect_error"] and x["query"]
]

# strings that stress the char-offset tokenizer: empty and separator-only
# text, combining marks (U+0300-U+036F fold to '') alone and after letters,
# astral codepoints, tokens longer than 64 bytes, and '.'/':' sentence
# starts after tabs and CRLFs
ADVERSARIAL = [
    "",
    " \t\r\n.,;:!?-()[]{}'\"/\\|@#$%^&*+=<>~`\u00a0\u2014\u3000\x00",
    "".join(chr(c) for c in range(0x300, 0x370)),
    " ".join(chr(c) for c in range(0x300, 0x370)),
    "\u0301\u0302 lead. \u0300 trail \u036f",
    "e\u0301 cafe\u0301s a\u0300\u0301\u0302b x\u036f \u0301x",
    "\U0001d518\U0001d52b\U0001d526 \U0001f600 \U00020000abc \U00010400\U00010428 x\U0001d400y",
    "a" * 100,
    "\u00e9" * 40 + " " + "\U00010400" * 20 + " tail",
    "x" * 65 + "\u0301" * 10 + " y",
    "one.\ttwo:\r\nthree .  four:\t\tfive.\r\n\r\nsix",
    ".lead\t.x :\ty \r\n: z.\u0301\tw",
]


def _sentence_starts_loop(text, toks):
    """Reference for ``_sentence_starts``: fts5SentenceFinderCb's walk back
    from each token over spaces, tabs, newlines and crs."""
    out = []
    for pos, (_t, c0, _c1) in enumerate(toks):
        if pos == 0:
            out.append(0)
            continue
        i = c0 - 1
        c = ""
        while i >= 0:
            c = text[i]
            if c not in (" ", "\t", "\n", "\r"):
                break
            i -= 1
        if i != c0 - 1 and c in (".", ":"):
            out.append(pos)
    return out


def test_tokenize_offsets_pins_the_analyzer(corpus_pdf):
    """The snippet tokenizer yields the indexing analyzer's tokens, each
    span a whole token run whose text folds to the unstemmed token, and the
    sentence starts of the char-walk reference."""
    fold = _tables()
    for text in list(corpus_pdf["text"]) + ADVERSARIAL:
        toks = tokenize_offsets(text)
        assert [t for t, _, _ in toks] == tokenize(text), repr(text[:60])
        assert [text[c0:c1].translate(fold) for _, c0, c1 in toks] == unicode61_tokens(text)
        for _t, c0, c1 in toks:
            assert c0 == 0 or fold[ord(text[c0 - 1])] == " ", repr(text[:60])
            assert c1 == len(text) or fold[ord(text[c1])] == " ", repr(text[:60])
        assert _sentence_starts(text, toks) == _sentence_starts_loop(text, toks)


@pytest.mark.parametrize("q", QUERIES, ids=lambda q: repr(q)[:30])
def test_snippets_byte_identical(q, oracle, corpus_pdf):
    """The engine's per-doc path (phrase_slot_table -> snippet_pair)."""
    try:
        res = oracle.search(q, k=200)
    except sqlite3.OperationalError:
        pytest.skip("oracle rejects")
    text_by_id = {
        fnv1_64_signed(u): t for u, t in zip(corpus_pdf["url"], corpus_pdf["text"])
    }
    tree, phrases = parse_query(q, tokenize, unicode61_tokens)
    slots_list, anchored = phrase_slot_table(phrases, {})
    for r in res:
        title, body = snippet_pair(text_by_id[r.doc_id], tree, slots_list, anchored)
        assert title == r.title, f"q={q!r} doc={r.doc_id} 16-token snippet mismatch"
        assert body == r.text, f"q={q!r} doc={r.doc_id} 60-token snippet mismatch"


def test_engine_snippets_end_to_end(engine, oracle):
    """Full pipeline: SearchEngine.search(with_snippets=True) rows equal the
    oracle's (title, text, base_name) per doc."""
    for q in ["hypertension", '"renal failure"', "data*"]:
        want = {r.doc_id: (r.title, r.text, r.base_name) for r in oracle.search(q, k=50)}
        got = engine.search(q, k=50, with_snippets=True).collect()
        assert len(got) == len(want)
        for r in got:
            wt, wx, wb = want[r["doc_id"]]
            assert r["title"] == wt, f"q={q!r} doc={r['doc_id']} title"
            assert r["text"] == wx, f"q={q!r} doc={r['doc_id']} text"
            assert r["base_name"] == wb
