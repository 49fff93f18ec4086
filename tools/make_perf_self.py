"""Build PERF_SELF_r<N>.json — the per-query perf self-report the driver's
PERF cannot compute (bench.py prints only the headline line; the per-query
map lives in the committed BENCH_LOCAL detail files).

Per query: {prev_min, now_min, ratio, touched} where prev_min is the
minimum over the previous round's committed end-of-round runs, now_min the
minimum over this round's committed runs, ratio = now/prev (RAW — no host
adjustment), and touched whether any of this round's commits changed a
file on the query's call path (approximated by the commit list the caller
passes). A control block reports the median raw ratio over the UNtouched
queries — the same-host factor a judge can use to separate environment
drift from real change. The totals sum only the queries present on both
sides; names found on one side only are listed in ``only_prev`` /
``only_now``.

Usage:
    python tools/make_perf_self.py --round 15 \
        --prev BENCH_LOCAL_r14o_sf0.1_a.json [...] \
        --now  BENCH_LOCAL_r15_sf0.1_a.json [...] \
        --touched q1,q2,...
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys


def _minima(paths: list[str]) -> dict[str, float]:
    mins: dict[str, float] = {}
    for p in paths:
        with open(p) as fh:
            data = json.load(fh)
        for q, t in data.get("queries", {}).items():
            mins[q] = min(mins.get(q, float("inf")), t)
    return mins


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--prev", nargs="+", required=True)
    ap.add_argument("--now", nargs="+", required=True)
    ap.add_argument(
        "--touched",
        default="",
        help="comma-separated query names whose code path changed this round",
    )
    args = ap.parse_args()

    prev = _minima(args.prev)
    now = _minima(args.now)
    touched = {q for q in args.touched.split(",") if q}
    both = set(prev) & set(now)

    per_query = {}
    control_ratios = []
    touched_ratios = []
    for q in sorted(now):
        entry = {
            "prev_min": prev.get(q),
            "now_min": now[q],
            "touched": q in touched,
        }
        if q in prev and prev[q] > 0:
            r = round(now[q] / prev[q], 3)
            entry["ratio"] = r
            (touched_ratios if q in touched else control_ratios).append(r)
        per_query[q] = entry

    out = {
        "round": args.round,
        "prev_files": [os.path.basename(p) for p in args.prev],
        "now_files": [os.path.basename(p) for p in args.now],
        "n_queries": len(now),
        "n_touched": len([q for q in per_query.values() if q["touched"]]),
        "control_median_ratio": (
            round(statistics.median(control_ratios), 3) if control_ratios else None
        ),
        "touched_median_ratio": (
            round(statistics.median(touched_ratios), 3) if touched_ratios else None
        ),
        "total_prev_min": round(sum(prev[q] for q in both), 3),
        "total_now_min": round(sum(now[q] for q in both), 3),
        "only_prev": sorted(set(prev) - both),
        "only_now": sorted(set(now) - both),
        "per_query": per_query,
    }
    path = f"PERF_SELF_r{args.round}.json"
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=False)
    print(
        f"{path}: {len(now)} queries, control median ratio "
        f"{out['control_median_ratio']}, touched median {out['touched_median_ratio']}"
    )
    for side in ("only_prev", "only_now"):
        if out[side]:
            print(f"  {side} (excluded from totals): {', '.join(out[side])}")


if __name__ == "__main__":
    main()
