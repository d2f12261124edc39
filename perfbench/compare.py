"""Compare two sets of benchmark runs, metric by metric.

Usage (from the repository root):

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds result lines saved by perfbench/sweep.py
(<workload>-seed<N>-trace0.json). Runs are paired by workload and seed.
For every workload and end-to-end metric in BENCHMARK.json it prints
each side's median and quartiles, the number of pairs the change wins,
and a verdict:

  better      the change wins at least 9/10 of the pairs (ties count
              for neither) and the medians differ by more than the
              base's interquartile range
  worse       the change's median is worse than the base's by more
              than the metric's bound
  unresolved  a side's interquartile range exceeds the bound, and not
              every change run beats every base run
  same        none of the above: within the bound

Exit code 1 if any metric is `worse`.
"""

import glob
import json
import os
import re
import statistics
import sys


def load(d):
    runs = {}
    for f in glob.glob(os.path.join(d, "*-trace0.json")):
        m = re.match(r"(.+)-seed(\d+)-trace0\.json$", os.path.basename(f))
        if m:
            with open(f) as fh:
                runs[(m.group(1), int(m.group(2)))] = json.loads(fh.read().strip().splitlines()[-1])
    return runs


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def verdict(base, change, better, bound):
    sign = 1 if better == "higher" else -1
    pairs = list(zip(base, change))
    wins = sum(1 for b, c in pairs if sign * (c - b) > 0)
    losses = sum(1 for b, c in pairs if sign * (c - b) < 0)
    bq1, bmed, bq3 = quartiles(base)
    cq1, cmed, cq3 = quartiles(change)
    worse_by = sign * (bmed - cmed) / abs(bmed) if bmed else 0.0
    wide = (bq3 - bq1) / abs(bmed) > bound or (cq3 - cq1) / abs(cmed) > bound
    all_better = min(sign * c for c in change) > max(sign * b for b in base)
    if pairs and wins >= 0.9 * len(pairs) and abs(cmed - bmed) > bq3 - bq1:
        v = "better"
    elif worse_by > bound and not all_better:
        v = "worse"
    elif wide and not all_better:
        v = "unresolved"
    else:
        v = "same"
    return (bq1, bmed, bq3), (cq1, cmed, cq3), wins, losses, len(pairs), v


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    bench = json.load(open("BENCHMARK.json"))
    base, change = load(sys.argv[1]), load(sys.argv[2])
    any_worse = False
    for w in [w["name"] for w in bench["workloads"]]:
        seeds = sorted(s for (wl, s) in base if wl == w and (wl, s) in change)
        if not seeds:
            print(f"{w}: no paired runs")
            continue
        print(f"{w}: {len(seeds)} pairs (seeds {seeds[0]}..{seeds[-1]})")
        for m in bench["end_to_end"]:
            b = [base[(w, s)]["metrics"][m["name"]]["value"] for s in seeds]
            c = [change[(w, s)]["metrics"][m["name"]]["value"] for s in seeds]
            (bq1, bmed, bq3), (cq1, cmed, cq3), wins, losses, n, v = verdict(
                b, c, m["better"], m["bound"])
            any_worse |= v == "worse"
            print(f"  {m['name']:16s} base {bmed:.4g} [{bq1:.4g}, {bq3:.4g}]  "
                  f"change {cmed:.4g} [{cq1:.4g}, {cq3:.4g}]  "
                  f"wins {wins}/{n} losses {losses}  {v}")
    sys.exit(1 if any_worse else 0)


if __name__ == "__main__":
    main()
