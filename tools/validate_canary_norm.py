"""Validate the steady-canary normalization over recorded sidecars
(r14, VERDICT r13 item 3).

Claim under test: per-query bench times divided by the run's STEADY
canary median (warm-JIT, interleaved samples; `bench.py
compute_load_flags` computes the median) and re-anchored to the frozen
`CANARY_STEADY_REF_SEC` are comparable across rounds even when the
host speed drifted — so a load-flagged round can still anchor a
defensible perf series.

Method: replay the normalization over two recorded sidecar
populations (default: the r12 idle runs — all UNFLAGGED — and the r13
idle runs — ALL load-flagged, canaries 0.26-0.57 vs the 0.15-era
norm). For every query the two rounds share, compare the best
normalized reading per round. Queries r13 did not touch should come
out ≈1.0× even though their RAW r13 seconds read 1.19-1.34× slower
(pure host drift); the r13-touched stored-index paths should show
their true improvement (e.g. probe_ann_index ~0.76×, dedup_near_md5
~0.79×).

Writes canary_norm_validation.json (``--out``) with per-query raw and
normalized ratios, the untouched-median check, and a pass verdict:
median normalized ratio of untouched queries within
[1/TOLERANCE, TOLERANCE] (default 1.10 — idle-host half-medians
measure within ~1.1×, so the normalization cannot be expected to do
better than the host's own short-horizon stability).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import CANARY_STEADY_REF_SEC  # noqa: E402

# queries whose code r13 actually touched (delta publish, stored
# probes, incremental dedup) — excluded from the "untouched" median
R13_TOUCHED = {
    "probe_ann_index",
    "probe_ivf_index",
    "dedup_near_md5",
    "dedup_incremental",
    "dedup_near",
    "dedup_simhash",
    "similarity_ann",
    "similarity_ivf",
}
TOLERANCE = 1.10


def best_normalized(files: list[str]) -> tuple[dict, dict]:
    """Per-query best normalized + best raw reading over a run set."""
    norm: dict[str, float] = {}
    raw: dict[str, float] = {}
    for f in files:
        d = json.load(open(f))
        sm = d.get("canary_steady_median_sec")
        if not sm:
            continue
        factor = CANARY_STEADY_REF_SEC / sm
        for q, iters in d["iteration_times"].items():
            v = min(iters)
            raw[q] = min(raw.get(q, float("inf")), v)
            norm[q] = min(norm.get(q, float("inf")), v * factor)
    return norm, raw


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--base", default=os.path.join(REPO, "BENCH_DETAIL_r12_idle*.json")
    )
    ap.add_argument(
        "--probe", default=os.path.join(REPO, "BENCH_DETAIL_r13_idle*.json")
    )
    ap.add_argument("--out", default="canary_norm_validation.json")
    args = ap.parse_args()
    base_files = sorted(glob.glob(args.base))
    probe_files = sorted(glob.glob(args.probe))
    b_norm, b_raw = best_normalized(base_files)
    p_norm, p_raw = best_normalized(probe_files)
    common = sorted(set(b_norm) & set(p_norm))
    rows = {}
    untouched_ratios = []
    for q in common:
        nr = p_norm[q] / b_norm[q]
        rr = p_raw[q] / b_raw[q]
        rows[q] = {
            "base_norm_sec": round(b_norm[q], 3),
            "probe_norm_sec": round(p_norm[q], 3),
            "normalized_ratio": round(nr, 3),
            "raw_ratio": round(rr, 3),
            "touched": q in R13_TOUCHED,
        }
        if q not in R13_TOUCHED:
            untouched_ratios.append(nr)
    med_norm = statistics.median(untouched_ratios)
    med_raw = statistics.median(
        rows[q]["raw_ratio"] for q in common if q not in R13_TOUCHED
    )
    passed = 1 / TOLERANCE <= med_norm <= TOLERANCE
    out = {
        "steady_ref_sec": CANARY_STEADY_REF_SEC,
        "tolerance": TOLERANCE,
        "base_runs": [os.path.basename(f) for f in base_files],
        "probe_runs": [os.path.basename(f) for f in probe_files],
        "untouched_median_raw_ratio": round(med_raw, 3),
        "untouched_median_normalized_ratio": round(med_norm, 3),
        "validated": passed,
        "per_query": rows,
    }
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(
        json.dumps(
            {
                k: out[k]
                for k in (
                    "untouched_median_raw_ratio",
                    "untouched_median_normalized_ratio",
                    "validated",
                )
            }
        )
    )
    return 0 if passed else 1


if __name__ == "__main__":
    raise SystemExit(main())
