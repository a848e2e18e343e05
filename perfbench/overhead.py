"""Tracing overhead: the same workload and seed run untraced and traced.

    python3 perfbench/overhead.py --workload interactive --seed 1 --seconds 8

Prints, per end-to-end metric, the untraced value, the traced run's value
(from its span file's summary) and their relative difference. One pair of
runs differs by run-to-run noise as well as by tracing; repeat over seeds
before reading a difference as overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        cwd=ROOT, check=True, stdout=subprocess.PIPE, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    args = ap.parse_args(argv)
    plain = run(args, 0)["metrics"]
    run(args, 1)
    spans = os.path.join(ROOT, ".perfbench_work", "spans", f"{args.workload}-seed{args.seed}.json")
    with open(spans) as f:
        traced = json.load(f)["summary"]["e2e"]
    for name, m in plain.items():
        t = traced[name]
        print(f"{name:28s} untraced {m['value']:.4g}  traced {t:.4g}  "
              f"diff {100 * (t - m['value']) / m['value']:+.1f}%")
    return 0


if __name__ == "__main__":
    sys.exit(main())
