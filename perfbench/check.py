"""Output checks against the SQLite FTS5 oracle, run outside timed regions.

The rank-identity rule is the one ``bench.assert_rank_identity`` applies:
same row count, pairwise-equal score sequences (to 1e-9), and equal doc
membership for every score strictly better than the k-th (boundary) score —
FTS5 keeps an arbitrary member of an exact score tie at the k boundary.
"""

from __future__ import annotations

import sqlite3
import sys

import pandas as pd

from pdfsearch_spark.corpus import gen_row
from pdfsearch_spark.extract import extract_text
from pdfsearch_spark.oracle import FTS5Oracle

TOL = 1e-9


def corpus_texts(start: int, stop: int, seed: int) -> pd.DataFrame:
    """Rows ``[start, stop)`` of the seeded corpus with driver-side extracted
    text — an oracle input independent of the engine's own extraction."""
    rows = [gen_row(i, seed) for i in range(start, stop)]
    return pd.DataFrame(
        {
            "url": [r["url"] for r in rows],
            "text": [extract_text(r["html"]) for r in rows],
        }
    )


def rank_mismatch(oracle_pairs, engine_pairs) -> str | None:
    """None when the (doc_id, score) lists agree under the rank-identity
    rule, else a one-line reason."""
    o = sorted(oracle_pairs, key=lambda p: (p[1], p[0]))
    e = sorted(engine_pairs, key=lambda p: (p[1], p[0]))
    if len(o) != len(e):
        return f"oracle {len(o)} rows, engine {len(e)}"
    if not o:
        return None
    for i, ((_, osc), (_, esc)) in enumerate(zip(o, e)):
        if abs(osc - esc) >= TOL:
            return f"rank {i}: score {osc} vs {esc}"
    boundary = o[-1][1]
    o_strict = {d for d, s in o if s < boundary - TOL}
    e_strict = {d for d, s in e if s < boundary - TOL}
    if o_strict != e_strict:
        return "non-boundary membership differs"
    return None


class Checker:
    """Counts checked operations and mismatches; a mismatch is reported on
    stderr and counted, never raised."""

    def __init__(self) -> None:
        self.oracle = FTS5Oracle()
        self.attempted = 0
        self.failed = 0

    def load(self, docs: pd.DataFrame) -> None:
        self.oracle.load(docs)

    def hits(self, q: str) -> int:
        """The oracle's full match count for ``q`` (-1 if it rejects it)."""
        try:
            return self.oracle.con.execute(
                "SELECT count(*) FROM pages WHERE pages MATCH ?", (q,)
            ).fetchone()[0]
        except sqlite3.OperationalError:
            return -1

    def fail(self, what: str, reason: str) -> None:
        self.failed += 1
        print(f"perfbench: MISMATCH {what}: {reason}", file=sys.stderr)

    def query(self, q: str, k: int, pairs, snippets: dict | None = None) -> None:
        """One issued query's (doc_id, score) result vs the oracle; with
        ``snippets`` ({doc_id: (title, text)}) also the snippets of every
        doc both sides returned."""
        self.attempted += 1
        try:
            want = self.oracle.search(q, k=k)
        except sqlite3.OperationalError as exc:
            self.fail(repr(q), f"oracle rejected the query: {exc}")
            return
        reason = rank_mismatch([(r.doc_id, r.score) for r in want], pairs)
        if reason is None and snippets is not None:
            for r in want:
                got = snippets.get(r.doc_id)
                if got is not None and got != (r.title, r.text):
                    reason = f"snippet of doc {r.doc_id}: {got!r} vs {(r.title, r.text)!r}"
                    break
        if reason is not None:
            self.fail(repr(q), reason)

    def same(self, what: str, a, b) -> None:
        """Two engine results for one query (batch rows vs search) that must
        agree under the same rule: the two paths sum BM25 terms in a
        different float order, and either may keep any boundary-tie doc."""
        self.attempted += 1
        reason = rank_mismatch(a, b)
        if reason is not None:
            self.fail(what, reason)

    def op(self, what: str, ok: bool, reason: str = "") -> None:
        """A write operation's own success condition."""
        self.attempted += 1
        if not ok:
            self.fail(what, reason)
