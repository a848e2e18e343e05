"""Driver-mimic: run every __spark_entry__.queries() entry and its DuckDB
oracle_sql() side-by-side at the given sf dir; compare row count, column
names, and order-insensitive values (sorted by column name, stringified)."""

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod  # noqa: E402
from pdfsearch_spark.session import get_spark  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        pdf[c] = pdf[c].map(
            lambda v: str(sorted(v)) if isinstance(v, (list, tuple)) else str(v)
        )
    return pdf.sort_values(list(pdf.columns), kind="stable").reset_index(drop=True)


con = duckdb.connect()
for t in TABLES:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(SF, t)}.parquet'"
    )

spark = get_spark("dev-oracles", master="local[8]", shuffle_partitions=8)
qs = entrymod.queries()
os_ = entrymod.oracle_sql()

n_pass = n_fail = 0
for name, fn in qs.items():
    if ONLY and name not in ONLY:
        continue
    t0 = time.time()
    try:
        sdf = fn(spark, SF).toPandas()
    except Exception as e:
        print(f"[FAIL] {name}: spark error {type(e).__name__}: {str(e)[:300]}")
        n_fail += 1
        continue
    if name not in os_:
        print(f"[rows-only] {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
        n_pass += 1
        continue
    try:
        odf = con.execute(os_[name]).df()
    except Exception as e:
        print(f"[FAIL] {name}: duckdb error {type(e).__name__}: {str(e)[:300]}")
        n_fail += 1
        continue
    ok = True
    if len(sdf) != len(odf):
        print(f"[FAIL] {name}: rows spark={len(sdf)} duckdb={len(odf)}")
        ok = False
    elif sorted(sdf.columns) != sorted(odf.columns):
        print(f"[FAIL] {name}: cols spark={sorted(sdf.columns)} duckdb={sorted(odf.columns)}")
        ok = False
    else:
        a, b = canon(sdf), canon(odf)
        if not a.equals(b):
            diff = (a != b).any(axis=1)
            print(f"[FAIL] {name}: value mismatch in {int(diff.sum())}/{len(a)} rows")
            mism = a[diff].head(3)
            print("  spark :", mism.to_dict("records"))
            print("  duckdb:", b[diff].head(3).to_dict("records"))
            ok = False
    if ok:
        print(f"[PASS] {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
        n_pass += 1
    else:
        n_fail += 1

print(f"\n{n_pass} pass, {n_fail} fail")
spark.stop()
sys.exit(1 if n_fail else 0)
