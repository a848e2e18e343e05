"""Host-contention probe for the posting-encode kernel.

Runs M concurrent pinned processes, each encoding the same synthetic
2000-doc shard K times (steady state), and reports per-process wall and
CPU. Compares 8-way vs 32-way concurrency, optionally with glibc malloc
tuned to keep large buffers resident (MALLOC_MMAP_THRESHOLD_ high, trim
off) — the hypothesis is that default glibc returns every >128 KB numpy
temp to the OS on free, so each encode call re-faults its pages and 32
workers serialize on kernel memory-management locks.

Usage: python scripts/dev_concurrency_probe.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

WORKER = r"""
import json, os, sys, time
import numpy as np, pandas as pd
from pdfsearch_spark.corpus import gen_pandas
from pdfsearch_spark.extract import extract_text
from pdfsearch_spark.index_build import encode_docs_partitions

pdf = gen_pandas(2000, with_text=True)
texts = [extract_text(h) for h in pdf["html"]]
ids = np.random.default_rng(0).integers(-2**63, 2**63 - 1, 2000)
g = pd.DataFrame({
    "shard": np.zeros(2000, dtype=np.int32),
    "doc_id": ids.astype(np.int64),
    "text": texts,
})
fn = encode_docs_partitions(118.0)

K = int(sys.argv[1])
t0w, t0c = time.perf_counter(), time.process_time()
for _ in range(K):
    for _out in fn(iter([g])):
        pass
print(json.dumps({"wall": time.perf_counter()-t0w, "cpu": time.process_time()-t0c}))
"""


def run(m: int, k: int, env_extra: dict) -> dict:
    procs = []
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo, **env_extra)
    for i in range(m):
        procs.append(
            subprocess.Popen(
                ["taskset", "-c", str(i % 32), sys.executable, "-c", WORKER, str(k)],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, env=env,
            )
        )
    walls, cpus = [], []
    for p in procs:
        out, _ = p.communicate()
        d = json.loads(out.decode().strip().splitlines()[-1])
        walls.append(d["wall"] / k)
        cpus.append(d["cpu"] / k)
    walls.sort(); cpus.sort()
    return {"wall_p50": walls[len(walls) // 2], "cpu_p50": cpus[len(cpus) // 2],
            "wall_max": walls[-1]}


def main() -> None:
    k = 6
    for label, env_extra in [
        ("default-malloc", {}),
        ("tuned-malloc", {"MALLOC_MMAP_THRESHOLD_": "268435456",
                          "MALLOC_TRIM_THRESHOLD_": "268435456"}),
    ]:
        for m in (8, 32):
            r = run(m, k, env_extra)
            print(
                f"{label:15s} M={m:2d}: per-encode wall p50={r['wall_p50']:.2f}s "
                f"max={r['wall_max']:.2f}s cpu p50={r['cpu_p50']:.2f}s"
            )


if __name__ == "__main__":
    main()
