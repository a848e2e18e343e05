"""Pair-B (8→32) residual breakdown from recorded scaling draws (VERDICT r3
item 3's alternative deliverable: 'a measured breakdown showing where the
residual goes').

Reads BENCH/history.jsonl rows for the given commits (default: the rows
whose bench-relevant code fingerprint matches HEAD), and for each build
phase compares its 8→32 speedup against the draw's string-kernel ceiling
(the pure extract+tokenize+Porter map, zero shuffle / zero driver — the
scaling the host actually offers during that draw). Phases scaling at or
above the kernel are host-bound; phases scaling below it are where the
pipeline's own overhead (shuffle, write, driver) lives.

Usage: python scripts/dev_scaling_breakdown.py [min_rep_ceiling]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# format-6 builds have no documents_write / term_stats phases (both former
# tables are derived views now), and builds that measure lineage in the
# encode pass have no lineage_agg phase but a commit phase (stats +
# manifest); the old keys remain here so the script still reads older
# history rows, and med() skips absent keys.
PHASES = [
    "extract_and_doc_text_write",
    "postings_encode_write",
    "commit",
    "lineage_agg",
    "documents_write",
    "term_stats",
]


def main() -> None:
    gate = float(sys.argv[1]) if len(sys.argv) > 1 else 0.4
    import bench

    cur_fp = bench.build_code_fingerprint("HEAD")
    rows = []
    with open("BENCH/history.jsonl") as fh:
        for line in fh:
            try:
                rows.append(json.loads(line))
            except ValueError:
                pass
    cur = [
        h for h in rows
        if h.get("git") and bench.build_code_fingerprint(h["git"]) == cur_fp
    ]
    gated = [
        h for h in cur
        if (h.get("representative_ceiling_efficiency") or 0) >= gate
    ]
    print(f"current-code rows: {len(cur)}; kernel-gated (rep >= {gate}): {len(gated)}")
    if not gated:
        return

    def med(vals):
        vals = sorted(v for v in vals if v is not None)
        if not vals:
            return None
        m = len(vals) // 2
        return vals[m] if len(vals) % 2 else (vals[m - 1] + vals[m]) / 2

    print(
        f"\n{'phase':28} {'8c med s':>9} {'32c med s':>9} "
        f"{'speedup':>8} {'eff':>6} {'vs kernel':>9}"
    )
    kernel_eff = med(
        min(1.0, h["representative_ceiling_efficiency"]) for h in gated
    )
    for ph in PHASES:
        t8 = med(h["local8"]["phase_sec"].get(ph) for h in gated)
        t32 = med(h["local32"]["phase_sec"].get(ph) for h in gated)
        if not t8 or not t32:
            continue
        sp = t8 / t32
        eff = sp / 4
        print(
            f"{ph:28} {t8:9.2f} {t32:9.2f} {sp:8.2f} {eff:6.3f} "
            f"{eff / kernel_eff:9.2f}"
        )
    b8 = med(h["local8"]["build_sec"] for h in gated)
    b32 = med(h["local32"]["build_sec"] for h in gated)
    print(
        f"{'TOTAL build':28} {b8:9.2f} {b32:9.2f} {b8 / b32:8.2f} "
        f"{b8 / b32 / 4:6.3f} {b8 / b32 / 4 / kernel_eff:9.2f}"
    )
    print(f"\nkernel ceiling (gated median): {kernel_eff:.3f}")
    print(
        "raw eff (gated median):", med(h["scaling_efficiency"] for h in gated)
    )
    norm = med(
        min(
            1.0,
            h["scaling_efficiency"]
            / min(1.0, h["representative_ceiling_efficiency"]),
        )
        for h in gated
    )
    print(f"normalized eff (gated median): {norm:.3f}")


if __name__ == "__main__":
    main()
