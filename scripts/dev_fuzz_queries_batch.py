"""Batched randomized differential sweep: N generated grammar queries vs
FTS5, evaluated through ``SearchEngine.search_batch`` (one shard-scan job per
chunk instead of one Spark job per query — ~50x the sweep rate of
dev_fuzz_queries.py, and it exercises the batch path, which is how a query
workload actually runs at cluster scale).

Usage: python scripts/dev_fuzz_queries_batch.py [N] [seed] [chunk]

Per query, error-ness must agree (oracle sqlite3.OperationalError <=> engine
QuerySyntaxError, checked driver-side before batching) and result pairs must
match _diff_one's criteria: score multisets to 1e-9 + doc membership for all
scores strictly better than the k-boundary (FTS5 keeps a nondeterministic
member at exact boundary ties). Known acceptable failure class (~1 per 300):
the FTS5 iteration-state scoring artifact documented in
tests/test_anchor_artifact.py — reported at the end, not counted as FAIL if
it matches the artifact signature (score-multiset-only diff).
"""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import sqlite3  # noqa: E402

import numpy as np  # noqa: E402

from pdfsearch_spark import corpus  # noqa: E402
from pdfsearch_spark.extract import extract_text  # noqa: E402
from pdfsearch_spark.index_build import build_index  # noqa: E402
from pdfsearch_spark.oracle import FTS5Oracle  # noqa: E402
from pdfsearch_spark.query.parser import QuerySyntaxError, parse_query  # noqa: E402
from pdfsearch_spark.search import SearchEngine  # noqa: E402
from pdfsearch_spark.session import get_spark  # noqa: E402

sys.path.insert(0, os.path.join(REPO, "tests"))
from test_fuzz_queries import _gen_query, _vocab  # noqa: E402

N = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
SEED = int(sys.argv[2]) if len(sys.argv) > 2 else 777
CHUNK = int(sys.argv[3]) if len(sys.argv) > 3 else 200
N_DOCS = 300
IDX = "/tmp/pdfsearch_fuzz_idx_batch"
K = 200


def compare(o_pairs, e_pairs, q):
    if len(o_pairs) != len(e_pairs):
        return f"q={q!r}: oracle {len(o_pairs)} rows vs engine {len(e_pairs)}"
    if not o_pairs:
        return None
    o_scores = sorted(s for _, s in o_pairs)
    e_scores = sorted(s for _, s in e_pairs)
    for a, b in zip(o_scores, e_scores):
        if abs(a - b) >= 1e-9:
            return f"q={q!r}: score multiset differs: {a} vs {b}"
    boundary = max(o_scores)
    o_strict = {d for d, s in o_pairs if s < boundary - 1e-9}
    e_strict = {d for d, s in e_pairs if s < boundary - 1e-9}
    if o_strict != e_strict:
        return f"q={q!r}: non-boundary membership differs"
    return None


def main():
    import shutil

    spark = get_spark("fuzz-batch", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    pdf = corpus.gen_pandas(N_DOCS)
    pdf["text"] = [extract_text(h) for h in pdf["html"]]
    oracle = FTS5Oracle()
    oracle.load(pdf)
    shutil.rmtree(IDX, ignore_errors=True)
    build_index(spark, corpus.web_pages_df(spark, N_DOCS, partitions=8), IDX, n_shards=8)
    eng = SearchEngine(spark, IDX)
    vocab = _vocab(pdf)

    from pdfsearch_spark.analyzer import tokenize, unicode61_tokens

    fails: list[str] = []
    artifacts: list[str] = []
    n_err_agree = 0
    n_checked = 0
    queries_all = []
    for qi in range(N):
        rng = np.random.Generator(np.random.Philox(key=[SEED, qi]))
        queries_all.append(_gen_query(rng, vocab))

    for lo in range(0, N, CHUNK):
        chunk = queries_all[lo : lo + CHUNK]
        runnable: list[tuple[int, str, list]] = []  # (local qid, q, oracle pairs)
        for q in chunk:
            try:
                o_pairs = sorted((r.doc_id, r.score) for r in oracle.search(q, k=K))
                o_err = False
            except sqlite3.OperationalError:
                o_err = True
            try:
                parse_query(q, tokenize, unicode61_tokens)
                e_err = False
            except QuerySyntaxError:
                e_err = True
            if o_err or e_err:
                if o_err != e_err:
                    fails.append(f"q={q!r}: oracle_err={o_err} engine_err={e_err}")
                else:
                    n_err_agree += 1
                continue
            runnable.append((len(runnable), q, o_pairs))
        if not runnable:
            continue
        batch_qs = [q for _, q, _ in runnable]
        rows = eng.search_batch(batch_qs, k=K).collect()
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        for qid, q, o_pairs in runnable:
            e_pairs = sorted(by_q.get(qid, []))
            msg = compare(o_pairs, e_pairs, q)
            n_checked += 1
            if msg is not None:
                if "score multiset differs" in msg:
                    artifacts.append(msg)  # candidate FTS5 iteration artifact
                else:
                    fails.append(msg)
        done = min(lo + CHUNK, N)
        print(
            f"[{done}/{N}] checked={n_checked} err_agree={n_err_agree} "
            f"fails={len(fails)} artifact_candidates={len(artifacts)}",
            flush=True,
        )

    print(f"\nchecked {n_checked} result-bearing queries, {n_err_agree} agreed errors")
    if artifacts:
        print(f"{len(artifacts)} score-multiset diffs (FTS5-artifact candidates; "
              "verify against tests/test_anchor_artifact.py signature):")
        for a in artifacts[:20]:
            print("  ", a)
    if fails:
        print(f"{len(fails)} HARD FAILURES:")
        for f in fails[:50]:
            print("  ", f)
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
