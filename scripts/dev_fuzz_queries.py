"""Deep randomized differential sweep: N generated grammar queries vs FTS5.

Usage: python scripts/dev_fuzz_queries.py [N] [seed]
Bigger sibling of tests/test_fuzz_queries.py (same generator) for pre-ship
sweeps; prints each failing query, exits nonzero on any mismatch.

Known acceptable failure class (~1 per 300 queries): phrases in an OR group
under an AND with an OR/NOT ancestor can lose score contributions in FTS5
when a sibling branch holds a nomatch iterator state (failed anchor / NEAR /
prefix) — an FTS5 iteration-state artifact, score-only and corpus-dependent,
that we deliberately do not replicate (tests/test_anchor_artifact.py).
"""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402

from pdfsearch_spark import corpus  # noqa: E402
from pdfsearch_spark.extract import extract_text  # noqa: E402
from pdfsearch_spark.index_build import build_index  # noqa: E402
from pdfsearch_spark.oracle import FTS5Oracle  # noqa: E402
from pdfsearch_spark.search import SearchEngine  # noqa: E402
from pdfsearch_spark.session import get_spark  # noqa: E402

sys.path.insert(0, os.path.join(REPO, "tests"))
from test_fuzz_queries import _diff_one, _gen_query, _vocab  # noqa: E402

N = int(sys.argv[1]) if len(sys.argv) > 1 else 150
SEED = int(sys.argv[2]) if len(sys.argv) > 2 else 424242
N_DOCS = 300
IDX = "/tmp/pdfsearch_fuzz_idx"

spark = get_spark("fuzz", master="local[8]", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")
pdf = corpus.gen_pandas(N_DOCS)
pdf["text"] = [extract_text(h) for h in pdf["html"]]
oracle = FTS5Oracle()
oracle.load(pdf)
import shutil

shutil.rmtree(IDX, ignore_errors=True)
build_index(spark, corpus.web_pages_df(spark, N_DOCS, partitions=8), IDX, n_shards=8)
eng = SearchEngine(spark, IDX)
vocab = _vocab(pdf)

def _snippet_diff(q: str) -> str | None:
    """Byte-compare FTS5 snippet(16/60) vs the engine's snippet_pair over
    top-50 rows."""
    import sqlite3

    from pdfsearch_spark.analyzer import tokenize as _tok, unicode61_tokens as _fold
    from pdfsearch_spark.query.parser import QuerySyntaxError, parse_query
    from pdfsearch_spark.query.snippet import phrase_slot_table, snippet_pair

    try:
        res = oracle.search(q, k=50)
        tree, phrases = parse_query(q, _tok, _fold)
    except (sqlite3.OperationalError, QuerySyntaxError):
        return None
    if tree is None:
        return None
    slots_list, anchored = phrase_slot_table(phrases, {})
    texts = {fnv(u): t for u, t in zip(pdf["url"], pdf["text"])}
    for r in res:
        t = texts[r.doc_id]
        if snippet_pair(t, tree, slots_list, anchored) != (r.title, r.text):
            return f"q={q!r} doc={r.doc_id}: snippet mismatch"
    return None


from pdfsearch_spark.fnv import fnv1_64_signed as fnv  # noqa: E402

fails = 0
with_snippets = "--snippets" in sys.argv
for qi in range(N):
    rng = np.random.Generator(np.random.Philox(key=[SEED, qi]))
    q = _gen_query(rng, vocab)
    msg = _diff_one(eng, oracle, q)
    if msg is None and with_snippets:
        msg = _snippet_diff(q)
    if msg is not None:
        fails += 1
        print(f"[FAIL] {msg}")
    elif qi % 25 == 0:
        print(f"[ok] {qi}/{N} q={q!r}")

print(f"{N - fails}/{N} rank-identical")
sys.exit(1 if fails else 0)
