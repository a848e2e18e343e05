"""Seeded query generator for the benchmark workloads.

Every query is an FTS5-grammar string built from the synthetic corpus's own
vocabulary (``corpus._vocab_and_zipf``: Zipf rank 0 is the most frequent
word) and from the generated documents themselves, so the shapes that need
co-occurring terms (phrase, NEAR, ``^`` anchor) have hits. The engine only
ever sees the strings.

Each query fills a slot: a shape, a term band to draw candidates from, and
a window for its hit count, as a share of the corpus. Candidates are drawn
until the FTS5 oracle (loaded with the same corpus) counts a hit total
inside the window, so a slot costs about the same under every seed — result
size drives snippet and doc-lookup work. Term bands, by Zipf rank:

- ``head``: ranks 0-29 (long posting lists of many 128-doc blocks);
- ``mid``: ranks 100-799;
- ``tail``: ranks 1500-4999;
- ``rare``: the per-document ``uniqNNNNNNtoken`` terms (df 1).
"""

from __future__ import annotations

import re
from typing import Callable

import numpy as np

from pdfsearch_spark import corpus
from pdfsearch_spark.extract import extract_text

# every grammar shape the interactive mix draws from, one zero-hit among them
SHAPES = (
    "term", "and", "or_not", "phrase", "prefix", "near", "anchor", "column", "zero",
)
_BAND_RANKS = {"head": (0, 30), "mid": (100, 800), "tail": (1500, 5000)}

# slot: (shape, band, min hit share, max hit share); a share s means
# round(s * n_docs) documents, and a max of 0 means exactly zero hits.
# Result size drives a query's cost (doc lookup, snippets), so every slot
# whose hits stay under k has a narrow window: a slot then costs about the
# same under every seed. Head slots always fill k.
_HEAD = 0.3, 1.0
_MID = 0.025, 0.03
_FEW = 0.0025, 0.005  # phrase, NEAR, anchor: a handful of co-occurrences
# one block of interactive queries: one slot per shape and term band the
# generator covers — a single term from each of the four bands, a head term
# ANDed with a head and with a mid term, a column filter, a zero-hit term and
# one of each other shape. The shares are coverage, not a measured traffic
# mix. Nine slots take the engine's fast path; the seven cheapest are the
# fast-path ones with at most a few dozen results, so the block's median
# latency (op_p50_s, the 7th of 13) is a fast-path latency. Phrase, prefix,
# NEAR and anchor (general path) and the two 200-result head slots cost
# more and weigh in through items_per_s.
INTERACTIVE_BLOCK = (
    ("term", "head", *_HEAD), ("term", "mid", *_MID), ("term", "tail", 1e-9, 0.002),
    ("term", "rare", 1e-9, 1e-9), ("and", "head", 0.1, 1.0), ("and", "mid", 0.015, 0.02),
    ("column", "mid", *_MID), ("zero", None, 0.0, 0.0), ("or_not", None, 0.03, 0.04),
    ("phrase", None, *_FEW), ("prefix", None, 0.02, 0.025),
    ("near", None, *_FEW), ("anchor", None, *_FEW),
)
# search_batch mix per call: weighted toward head-term conjunctions (the
# block-max WAND path), with fixed slot counts
BATCH_MIX = (
    (("and_head", "head", 0.1, 1.0), 12), (("term", "head", *_HEAD), 4),
    (("or_not", None, 0.03, 0.04), 2), (("phrase", None, *_FEW), 2),
    (("prefix", None, 0.02, 0.025), 1), (("near", None, *_FEW), 1),
    (("zero", None, 0.0, 0.0), 2),
)
# ingest's fixed per-snapshot read set: a fast-path conjunction, a single
# head term and a general-path phrase
SNAPSHOT_SET = (
    ("and_head", "head", 0.1, 1.0), ("term", "head", *_HEAD),
    ("phrase", None, *_FEW),
)
MAX_DRAWS = 200  # candidates per slot before the last one is kept as is

_WORD = re.compile(r"^[a-z]+$")


class QueryGen:
    """Draws queries for a corpus of ``n_docs`` documents generated with
    ``corpus.web_pages_df(seed=seed)``; ``hits(q)`` counts a query's matches
    in that corpus. The same seed gives the same queries."""

    def __init__(self, seed: int, n_docs: int, hits: Callable[[str], int]) -> None:
        self.seed = seed
        self.n_docs = n_docs
        self.hits = hits
        self.rng = np.random.Generator(np.random.Philox(key=[seed, 0x5EA4C4]))
        self.vocab, _ = corpus._vocab_and_zipf()
        self._zero = 0

    # ---- term draws -----------------------------------------------------

    def word(self, band: str) -> str:
        if band == "rare":
            return f"uniq{int(self.rng.integers(0, self.n_docs)):06d}token"
        lo, hi = _BAND_RANKS[band]
        return self.vocab[int(self.rng.integers(lo, hi))]

    def _doc_lines(self) -> list[list[str]]:
        """Word lines of one random corpus document (vocabulary words only),
        the first line being the title."""
        i = int(self.rng.integers(0, self.n_docs))
        text = extract_text(corpus.gen_row(i, self.seed)["html"])
        lines = []
        for line in text.split("\n"):
            words = [w for w in line.split() if _WORD.match(w)]
            if words:
                lines.append(words)
        return lines

    def _adjacent(self, gap: int) -> tuple[str, str]:
        """Two words ``gap`` positions apart on one line of a real document."""
        while True:
            lines = [ws for ws in self._doc_lines() if len(ws) > gap]
            if lines:
                ws = lines[int(self.rng.integers(0, len(lines)))]
                j = int(self.rng.integers(0, len(ws) - gap))
                return ws[j], ws[j + gap]

    # ---- shapes ---------------------------------------------------------

    def candidate(self, shape: str, band: str | None) -> str:
        r = self.rng
        if shape == "term":
            return self.word(band)
        if shape == "and":
            return f"{self.word('head')} {self.word(band)}"
        if shape == "and_head":
            return " ".join(self.word("head") for _ in range(int(r.integers(2, 4))))
        if shape == "or_not":
            # '(a NOT b) OR c': both operators in one query
            return f"{self.word('mid')} NOT {self.word('head')} OR {self.word('mid')}"
        if shape == "phrase":
            a, b = self._adjacent(1)
            return f'"{a} {b}"'
        if shape == "prefix":
            w = self.word("mid" if r.random() < 0.5 else "tail")
            return w[: int(r.integers(3, 6))] + "*"
        if shape == "near":
            a, b = self._adjacent(int(r.integers(2, 5)))
            return f"NEAR({a} {b}, 5)"
        if shape == "anchor":
            return "^" + self._doc_lines()[0][0]
        if shape == "column":
            return f"text:{self.word(band)}"
        if shape == "zero":
            # 'q' never occurs in the corpus vocabulary: zero hits by design
            self._zero += 1
            return f"qx{self.seed}n{self._zero}nohit"
        raise ValueError(f"unknown shape {shape!r}")

    def query(self, slot: tuple) -> str:
        shape, band, lo, hi = slot
        lo_n = max(round(lo * self.n_docs), 1 if lo > 0 else 0)
        hi_n = max(round(hi * self.n_docs), lo_n)
        for _ in range(MAX_DRAWS):
            q = self.candidate(shape, band)
            if lo_n <= self.hits(q) <= hi_n:
                break
        return q

    def interactive(self):
        """Endless stream of blocks, each the INTERACTIVE_BLOCK slots in a
        random order as (shape, query) pairs."""
        while True:
            yield [
                (INTERACTIVE_BLOCK[i][0], self.query(INTERACTIVE_BLOCK[i]))
                for i in self.rng.permutation(len(INTERACTIVE_BLOCK))
            ]

    def batch(self) -> list[str]:
        qs = [self.query(slot) for slot, n in BATCH_MIX for _ in range(n)]
        return [qs[i] for i in self.rng.permutation(len(qs))]

    def snapshot_set(self) -> list[str]:
        return [self.query(slot) for slot in SNAPSHOT_SET]

    def probe_set(self) -> list[tuple[str, str]]:
        """One query per interactive shape, for the traced per-shape probe."""
        first = {}
        for slot in INTERACTIVE_BLOCK:
            first.setdefault(slot[0], slot)
        return [(s, self.query(first[s])) for s in SHAPES]
