"""Per-doc triage of score-multiset diffs reported by the fuzz sweeps.

For each candidate query, re-runs oracle (FTS5) and engine over the same
fuzz corpus and compares per-doc: the documented artifact signature
(tests/test_anchor_artifact.py) requires (a) identical match SETS and
(b) every differing doc scored LESS by FTS5 (rank closer to zero) — the
OR-branch-drop direction. Any doc where FTS5 credits MORE than the engine
is NOT the known artifact and must be investigated as an engine bug.

Usage: python scripts/dev_triage_artifacts.py 'q1' ['q2' ...]
(defaults to reading one query per line from stdin when no args)
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdfsearch_spark import corpus  # noqa: E402
from pdfsearch_spark.extract import extract_text  # noqa: E402
from pdfsearch_spark.index_build import build_index  # noqa: E402
from pdfsearch_spark.oracle import FTS5Oracle  # noqa: E402
from pdfsearch_spark.search import SearchEngine  # noqa: E402
from pdfsearch_spark.session import get_spark  # noqa: E402

N_DOCS = 300  # must match dev_fuzz_queries_batch.py
IDX = "/tmp/pdfsearch_fuzz_idx_triage"
K = 200


def main() -> None:
    import shutil

    queries = sys.argv[1:] or [l.rstrip("\n") for l in sys.stdin if l.strip()]
    if not queries:
        print("no queries given")
        return

    spark = get_spark("triage", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    pdf = corpus.gen_pandas(N_DOCS)
    pdf["text"] = [extract_text(h) for h in pdf["html"]]
    oracle = FTS5Oracle()
    oracle.load(pdf)
    shutil.rmtree(IDX, ignore_errors=True)
    build_index(
        spark, corpus.web_pages_df(spark, N_DOCS, partitions=8), IDX, n_shards=8
    )
    eng = SearchEngine(spark, IDX)

    bad = 0
    for q in queries:
        o = {r.doc_id: r.score for r in oracle.search(q, k=K)}
        e = {
            r["doc_id"]: r["score"]
            for r in eng.search(q, k=K, with_snippets=False)
            .select("doc_id", "score")
            .collect()
        }
        if set(o) != set(e):
            bad += 1
            print(f"[BUG?] q={q!r}: match SETS differ "
                  f"(only-oracle={sorted(set(o) - set(e))[:5]}, "
                  f"only-engine={sorted(set(e) - set(o))[:5]})")
            continue
        diffs = [
            (d, o[d], e[d]) for d in o if abs(o[d] - e[d]) >= 1e-9
        ]
        if not diffs:
            print(f"[OK]   q={q!r}: per-doc identical (boundary-tie multiset "
                  "wobble only)")
            continue
        # artifact direction: FTS5 rank closer to zero => o[d] > e[d]
        wrong_dir = [(d, os_, es_) for d, os_, es_ in diffs if os_ < es_ - 1e-12]
        tag = "ARTIFACT" if not wrong_dir else "BUG?"
        if wrong_dir:
            bad += 1
        print(
            f"[{tag}] q={q!r}: {len(diffs)} differing docs, "
            f"max|d|={max(abs(os_ - es_) for _, os_, es_ in diffs):.3g}, "
            f"wrong-direction docs={len(wrong_dir)}"
        )
        for d, os_, es_ in (wrong_dir or diffs)[:4]:
            print(f"    doc={d} oracle={os_!r} engine={es_!r}")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
