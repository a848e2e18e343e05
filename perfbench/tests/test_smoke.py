"""Smoke test of the benchmark harness at tiny scale.

    python3 -m pytest perfbench/tests -q

Each Spark-backed case starts its own session in a subprocess, so the whole
file takes a few minutes. Checks the output contract: every metric named in
BENCHMARK.json appears with its unit, the run's outputs check out against
the oracle, a traced run writes its span file, and the benchmark refuses to
run outside a full checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)

# shrink every workload's corpus before the run starts
_TINY = (
    "import sys; sys.path.insert(0, {root!r}); "
    "import perfbench.workloads as w; "
    "w.SIZES = {{k: {{'n_docs': 300, 'shards': 2}} for k in w.SIZES}}; w.CYCLE_DOCS = 30; w.PROBE_DOCS = 600; "
    "from perfbench.run import main; sys.exit(main({args!r}))"
)


def run_tiny(workload: str, trace: int) -> dict:
    args = ["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)]
    out = subprocess.run(
        [sys.executable, "-c", _TINY.format(root=ROOT, args=args)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def _assert_contract(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


def test_untraced_run_prints_every_end_to_end_metric():
    _assert_contract(run_tiny("batch", 0), BENCH["end_to_end"])


def test_traced_run_prints_every_per_layer_metric_and_writes_spans():
    spans = os.path.join(ROOT, ".perfbench_work", "spans", "ingest-seed3.json")
    if os.path.exists(spans):
        os.remove(spans)
    _assert_contract(run_tiny("ingest", 1), BENCH["per_layer"])
    with open(spans) as f:
        data = json.load(f)
    names = {s["name"] for s in data["spans"]}
    assert {"session.start", "index_build.build", "index_build.refresh",
            "index_build.compact", "search", "check"} <= names
    for s in data["spans"]:
        assert s["end"] >= s["start"] and (s["parent"] is None or s["parent"] < s["id"])


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout.strip() == ""
