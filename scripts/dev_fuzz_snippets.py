"""Randomized snippet differential fuzz (VERDICT r4 item 6): the snippet
goldens (tests/test_snippet.py) pin the reference query set; this sweep
reuses the grammar-query generator against oracle ``snippet(pages, 2, ...,
16/60)`` strings over every (random query, matched doc) pair — byte
equality, both window sizes — to hit the FTS5 window-heuristic edge cases
the goldens may not span (all-stopword windows, docs shorter than N,
multi-phrase coverage ties).

Driver-side only (SQLite + snippet_pair — no Spark session), so it sweeps
thousands of (query, doc, N) diffs in seconds.

Usage: python scripts/dev_fuzz_snippets.py [n_queries] [seed] [k]
"""

import os
import sqlite3
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402

from pdfsearch_spark import corpus  # noqa: E402
from pdfsearch_spark.analyzer import tokenize, unicode61_tokens  # noqa: E402
from pdfsearch_spark.extract import extract_text  # noqa: E402
from pdfsearch_spark.fnv import fnv1_64_signed  # noqa: E402
from pdfsearch_spark.oracle import FTS5Oracle  # noqa: E402
from pdfsearch_spark.query.parser import QuerySyntaxError, parse_query  # noqa: E402
from pdfsearch_spark.query.snippet import (  # noqa: E402
    make_snippet,
    phrase_slot_table,
    snippet_pair,
    snippet_plan,
)

sys.path.insert(0, os.path.join(REPO, "tests"))
from test_fuzz_queries import _gen_query, _vocab  # noqa: E402

N_QUERIES = int(sys.argv[1]) if len(sys.argv) > 1 else 400
SEED = int(sys.argv[2]) if len(sys.argv) > 2 else 20260821
K = int(sys.argv[3]) if len(sys.argv) > 3 else 20
N_DOCS = 300


def main() -> None:
    pdf = corpus.gen_pandas(N_DOCS)
    pdf["text"] = [extract_text(h) for h in pdf["html"]]
    ora = FTS5Oracle()
    ora.load(pdf)
    text_by_id = {fnv1_64_signed(u): t for u, t in zip(pdf["url"], pdf["text"])}
    vocab = _vocab(pdf)

    n_pairs = n_queries_run = 0
    fails: list[str] = []
    artifacts: list[str] = []

    def _is_branch_drop_artifact(q, t, fs, fa, fi, nn, want) -> bool:
        """The documented family-1 FTS5 iterator-state artifact propagates
        into snippet(): the same parked phrase iterator that makes bm25()
        drop an OR-branch contribution makes snippet() blind to that
        phrase's instances, so FTS5 picks its best window over FEWER
        phrases (verified on the first find: the identical (query, doc)
        shows the scoring artifact too — oracle -2.095 vs engine -3.784,
        drop = the missing phrase's standalone contribution). Classify a
        mismatch as this artifact iff (a) the query has the family-1
        trigger shape and (b) recomputing OUR snippet with some subset of
        phrases' instances suppressed reproduces FTS5's string
        byte-exactly (drop up to 2 of the visible phrases)."""
        from itertools import combinations

        from test_fuzz_queries import _family1_trigger

        if not _family1_trigger(q):
            return False
        P = len(fs)
        idxs = range(P)
        for k_drop in (1, 2):
            if k_drop >= P + 1:
                break
            for drop in combinations(idxs, min(k_drop, P)):
                fs2 = [s for i, s in enumerate(fs) if i not in drop]
                fa2 = [a for i, a in enumerate(fa) if i not in drop]
                fi2 = [x for i, x in enumerate(fi) if i not in drop]
                if not fs2:
                    continue
                if make_snippet(t, fs2, fa2, nn, per_phrase=fi2) == want:
                    return True
        return False
    for qi in range(N_QUERIES):
        rng = np.random.Generator(np.random.Philox(key=[SEED, qi]))
        q = _gen_query(rng, vocab)
        try:
            res = ora.search(q, k=K)
        except sqlite3.OperationalError:
            continue
        try:
            tree, phrases = parse_query(q, tokenize, unicode61_tokens)
        except QuerySyntaxError:
            continue
        if tree is None or not res:
            continue
        # EXACTLY the production path (SearchEngine._snippet_pair): slot
        # table -> per-doc snippet_pair (one tokenization feeds the
        # scorer-driven phrase visibility, NEAR-survivor filtering and both
        # windows)
        slots_list, anchored = phrase_slot_table(phrases, {})
        n_queries_run += 1
        for r in res:
            t = text_by_id[r.doc_id]
            got_pair = snippet_pair(t, tree, slots_list, anchored)
            for nn, got, want in zip((16, 60), got_pair, (r.title, r.text)):
                n_pairs += 1
                if got != want:
                    msg = (
                        f"q={q!r} doc={r.doc_id} N={nn}:\n"
                        f"    ours: {got!r}\n    fts5: {want!r}"
                    )
                    fs, fa, fi = snippet_plan(tree, slots_list, anchored, t)
                    if _is_branch_drop_artifact(q, t, fs, fa, fi, nn, want):
                        artifacts.append(msg)
                    else:
                        fails.append(msg)
        if (qi + 1) % 100 == 0:
            print(
                f"[{qi + 1}/{N_QUERIES}] queries_run={n_queries_run} "
                f"pairs={n_pairs} fails={len(fails)}",
                flush=True,
            )

    print(
        f"\n{n_pairs} (query, doc, N) snippet diffs over {n_queries_run} "
        f"result-bearing queries (seed {SEED}): {len(fails)} mismatches, "
        f"{len(artifacts)} branch-drop artifacts (FTS5 iterator-state; the "
        f"scoring side of the same (query, doc) shows the family-1 diff)"
    )
    for a in artifacts[:5]:
        print("[artifact]", a)
    for f in fails[:20]:
        print(f)
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
