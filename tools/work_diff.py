#!/usr/bin/env python3
"""First-class artifact for the deterministic work-metric gate.

Usage: work_diff.py BASE_BENCH_FULL CURRENT_BENCH_FULL OUT_JSON \
           [--intended QUERY=REASON ...]

--intended acknowledges a DELIBERATE plan change for one query (e.g. a
measured shuffle diet that trades a few broadcast-build tasks for a
smaller exchange): its flags still appear in "flagged" with the reason
attached, but they don't fail the verdict — "pass (N intended)". An
--intended entry matching NO flag is an error (stale annotations must
not linger).

Diffs the per-query WORK metrics (input rows/bytes, shuffle read/write,
task count, jobs, peak task memory — plan properties, immune to host
noise)
between two BENCH_FULL.json files and writes a machine-readable verdict
so the driver/judge can read the gate's result without re-deriving it:

  {"base": …, "current": …, "queries_compared": N,
   "flagged": [{"query": …, "metric": …, "base": …, "current": …,
                "ratio": …}, …],          # explicit [] when clean
   "verdict": "pass" | "fail",
   "thresholds": {"growth": 1.10, "shuffle_floor_bytes": 1048576,
                  "task_floor": 16, "jobs": "any growth"}}

Exit code 1 on "fail" so shell pipelines can gate on it directly.
"""
import json, sys

from bench_compare import (SHUFFLE_FLOOR, TASK_FLOOR, WORK_GROWTH, load,
                           work_regressions)


def main():
    args = sys.argv[1:]
    intended = {}
    while "--intended" in args:
        i = args.index("--intended")
        try:
            q, reason = args[i + 1].split("=", 1)
        except (IndexError, ValueError):
            sys.exit(__doc__)
        intended[q] = reason
        del args[i:i + 2]
    if len(args) != 3:
        sys.exit(__doc__)
    base_path, cur_path, out_path = args
    _, _, base_work = load(base_path)
    _, _, cur_work = load(cur_path)
    if not base_work or not cur_work:
        sys.exit(f"missing work metrics (base={len(base_work)}, current={len(cur_work)})"
                 " — both sides must be round>=12 BENCH_FULL.json files")
    common = sorted(set(base_work) & set(cur_work))
    flagged = [
        {"query": q, "metric": metric, "base": b, "current": c,
         "ratio": round(ratio, 3),
         **({"intended": intended[q]} if q in intended else {})}
        for q, metric, b, c, ratio in work_regressions(base_work, cur_work)
    ]
    flagged_queries = {f["query"] for f in flagged}
    stale = sorted(set(intended) - flagged_queries)
    if stale:
        sys.exit(f"--intended names with no matching flag (stale): {stale}")
    unintended = [f for f in flagged if "intended" not in f]
    n_intended = len(flagged) - len(unintended)
    out = {
        "base": base_path,
        "current": cur_path,
        "queries_compared": len(common),
        "base_only": sorted(set(base_work) - set(cur_work)),
        "current_only": sorted(set(cur_work) - set(base_work)),
        "flagged": flagged,
        "verdict": ("fail" if unintended else
                    f"pass ({n_intended} intended)" if n_intended else "pass"),
        "thresholds": {"growth": WORK_GROWTH,
                       "shuffle_floor_bytes": SHUFFLE_FLOOR,
                       "task_floor": TASK_FLOOR,
                       "jobs": "any growth"},
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=False)
        f.write("\n")
    print(f"{out_path}: {len(common)} queries compared, "
          f"{len(flagged)} flagged -> {out['verdict']}")
    for f_ in flagged:
        tag = " [intended: " + f_["intended"] + "]" if "intended" in f_ else ""
        print(f"  {f_['query']}: {f_['metric']} {f_['base']} -> "
              f"{f_['current']} (x{f_['ratio']}){tag}")
    if unintended:
        sys.exit(1)


if __name__ == "__main__":
    main()
