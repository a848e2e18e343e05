"""Benchmark entry point for the index/BM25 engine.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Runs one workload (see perfbench/workloads.py and perfbench/README.md) from
the root of a checkout and prints, as the last line of standard output, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics (plus a span
file under ``.perfbench_work/spans/``) with ``--trace 1``. Everything it
writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("interactive", "batch", "ingest")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str) -> None:
    """Confine Spark, the JVM and Python temp files to ``work`` and size the
    local session; must run before pyspark starts the JVM."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "SPARK_GRAFT_CPUS": str(min(cpus, 8)),
            # a fixed-size heap (-Xms = -Xmx) keeps the JVM's share of
            # process.peak_rss_mb from following the collector's resizing
            "SPARK_DRIVER_MEM": "1g",
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "local"),
            "TMPDIR": os.path.join(work, "tmp"),
            # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata
            "JAVA_TOOL_OPTIONS": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
            "PYSPARK_SUBMIT_ARGS": (
                f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
                "--conf spark.ui.showConsoleProgress=false "
                "--conf spark.driver.defaultJavaOptions=-Xms1g pyspark-shell"
            ),
        }
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pdfsearch_spark", "__init__.py")):
        print(
            f"perfbench: no pdfsearch_spark package under {ROOT}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    work = os.path.join(WORK_ROOT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work)
    sys.path.insert(0, ROOT)
    from perfbench.trace import reap_descendants
    from perfbench.workloads import run_workload

    try:
        result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
