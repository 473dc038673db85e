#!/usr/bin/env python3
"""Pin a batch workload's timed queries in workloads.json from a --full run.

    python3 perfbench/run.py --workload <w> --seed 1 --seconds 6 --trace 0 --full
    python3 perfbench/pick_timed.py <w> .bench_build/runs/<w>-s1-t0-full/result.json

A normal run times a few queries, not all members, so that a run stays
near 30 s. The rule that picks them: walk the workload's
modules from the largest share of the --full pass time down; from each,
take its typical query (the member whose median time is nearest the
module's mean); keep it if the picked queries' summed median still fits
PASS_BUDGET_S, else go on to the next module. The share of the --full
pass time that the picked modules make up (what a change must touch to
show in wall_s) and the picked queries' own share are written beside the
set as `timed_share`.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# a run makes four passes over the timed set; at this budget a run takes
# about 30 s on four cores
PASS_BUDGET_S = 2.0


def pick(modules, median_s):
    total = sum(median_s.values())
    module_s = {m: sum(median_s[q] for q in qs) for m, qs in modules.items()}
    timed, covered, used = [], [], 0.0
    for m in sorted(modules, key=lambda m: -module_s[m]):
        mean = module_s[m] / len(modules[m])
        q = min(sorted(modules[m]), key=lambda q: abs(median_s[q] - mean))
        if used + median_s[q] <= PASS_BUDGET_S:
            timed.append(q)
            covered.append(m)
            used += median_s[q]
    share = {"modules": round(sum(module_s[m] for m in covered) / total, 3),
             "queries": round(used / total, 3), "full_pass_s": round(total, 2),
             "pass_budget_s": PASS_BUDGET_S}
    return timed, share


def main():
    workload, result = sys.argv[1], sys.argv[2]
    with open(result) as f:
        r = json.load(f)
    if r["workload"] != workload or r["failures"]:
        sys.exit(f"{result}: not a clean --full run of {workload}")
    path = os.path.join(HERE, "workloads.json")
    with open(path) as f:
        workloads = json.load(f)
    w = workloads[workload]
    median_s = {q: r["queries"][q]["median_s"] for qs in w["modules"].values() for q in qs}
    w["timed"], w["timed_share"] = pick(w["modules"], median_s)
    w["timed_share"]["from"] = f"seed {r['seed']} --full, median of {r['extra']['passes']} passes"
    with open(path, "w") as f:
        f.write(json.dumps(workloads, indent=1) + "\n")
    print(workload, w["timed"], w["timed_share"])


if __name__ == "__main__":
    main()
