"""End-to-end drive: build the sharded index over the synthetic web corpus on
a real SparkSession, run the full reference query set, and diff
(docIDs, scores) against the SQLite FTS5 oracle — the rank-identity gate."""
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdfsearch_spark.session import get_spark
from pdfsearch_spark import corpus
from pdfsearch_spark.extract import extract_text
from pdfsearch_spark.index_build import build_index
from pdfsearch_spark.oracle import FTS5Oracle
from pdfsearch_spark.query.parser import QuerySyntaxError
from pdfsearch_spark.search import SearchEngine
import sqlite3

N = int(os.environ.get("DRIVE_N", "400"))
K = int(os.environ.get("DRIVE_K", "200"))
IDX = "/tmp/drive_index"

spark = get_spark("dev-drive-search", master="local[8]")
shutil.rmtree(IDX, ignore_errors=True)

t0 = time.time()
pages = corpus.web_pages_df(spark, N, partitions=8)
metrics = build_index(spark, pages, IDX, n_shards=8)
print(f"build: {metrics}")

# oracle
pdf = corpus.gen_pandas(N)
pdf["text"] = [extract_text(h) for h in pdf["html"]]
ora = FTS5Oracle()
ora.load(pdf)

eng = SearchEngine(spark, IDX)

queries = corpus.reference_queries()
n_pass = n_fail = 0
for q in queries:
    qs, err_expected = q["query"], q["expect_error"]
    # oracle side
    o_err = None
    o_res = []
    try:
        o_res = ora.search(qs, k=K)
    except sqlite3.OperationalError as e:
        o_err = str(e)
    # engine side
    e_err = None
    e_rows = []
    try:
        df = eng.search(qs, k=K, with_snippets=False)
        e_rows = df.select("doc_id", "score").collect()
        e_rows.sort(key=lambda r: (r["score"], r["doc_id"]))
    except QuerySyntaxError as e:
        e_err = str(e)

    if o_err is not None:
        ok = e_err is not None
        status = "PASS" if ok else "FAIL"
        print(f"[{status}] q={qs!r} oracle_err={o_err!r} engine_err={e_err!r}")
    else:
        o_pairs = [(r.doc_id, r.score) for r in o_res]
        e_pairs = [(r["doc_id"], r["score"]) for r in e_rows]
        ok = len(o_pairs) == len(e_pairs) and all(
            od == ed and abs(os_ - es_) < 1e-9
            for (od, os_), (ed, es_) in zip(o_pairs, e_pairs)
        )
        status = "PASS" if ok else "FAIL"
        print(f"[{status}] q={qs!r} oracle_n={len(o_pairs)} engine_n={len(e_pairs)}")
        if not ok:
            oset, eset = {d for d, _ in o_pairs}, {d for d, _ in e_pairs}
            print("   oracle-only docs:", list(oset - eset)[:5], "engine-only:", list(eset - oset)[:5])
            for i, (op, ep) in enumerate(zip(o_pairs, e_pairs)):
                if op[0] != ep[0] or abs(op[1] - ep[1]) >= 1e-9:
                    print(f"   first diff at rank {i}: oracle={op} engine={ep}")
                    break
    n_pass += ok
    n_fail += not ok

print(f"\n{n_pass}/{n_pass + n_fail} queries rank-identical (elapsed {time.time()-t0:.1f}s)")
spark.stop()
sys.exit(1 if n_fail else 0)
