"""Run the benchmark over several seeds and report each metric's spread.

Usage (from the repository root):

    python3 perfbench/sweep.py --workload mr_sql --seeds 1-10 [--trace 0|1] \
        [--seconds S] [--out DIR]

Each run's output (result line last) is saved as DIR/<workload>-seed<N>-trace<T>.json
(DIR defaults to .bench_build/runs). The summary gives, per metric, the
median, the quartiles and the interquartile range as a share of the
median (`statistics.quantiles(values, n=4)`), and flags end-to-end
metrics whose spread exceeds a third of the bound in BENCHMARK.json.
With --trace 1, it also prints the tracing overhead (trace.wall_s minus
the untraced run's wall_s) for seeds whose untraced result is in DIR.
Two such directories can be compared with perfbench/compare.py.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def main():
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--out", default=os.path.join(".bench_build", "runs"))
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    results = []
    for s in seeds(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                  "--seconds", str(a.seconds), "--trace", str(a.trace)]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if res.returncode != 0:
            sys.exit(f"seed {s}: exit code {res.returncode}")
        with open(os.path.join(a.out, f"{a.workload}-seed{s}-trace{a.trace}.json"), "w") as fh:
            fh.write(res.stdout)
        r = json.loads(res.stdout.strip().splitlines()[-1])
        results.append(r)
        print(f"seed {s}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']}",
              file=sys.stderr)
    if a.trace:
        # tracing overhead: traced pass wall minus the untraced run's wall_s, per seed
        over = []
        for s, r in zip(seeds(a.seeds), results):
            f = os.path.join(a.out, f"{a.workload}-seed{s}-trace0.json")
            if os.path.isfile(f):
                with open(f) as fh:
                    u = json.loads(fh.read().strip().splitlines()[-1])["metrics"]["wall_s"]["value"]
                over.append(r["metrics"]["trace.wall_s"]["value"] - u)
        if over:
            print(f"tracing overhead (trace.wall_s - wall_s, {len(over)} seeds): "
                  f"median {statistics.median(over):.4g} s")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(f"{a.workload}: {len(results)} runs, all correct: {all(r['correct'] for r in results)}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        if len(vals) < 2 or statistics.median(vals) == 0:
            print(f"  {name:28s} median {statistics.median(vals):.6g}")
            continue
        q1, med, q3, rel = spread(vals)
        flag = ""
        if name in bounds and name != "setup_s" and rel > bounds[name] / 3:
            flag = f"  SPREAD > bound/3 ({bounds[name] / 3:.3f})"
        print(f"  {name:28s} median {med:.6g}  q1 {q1:.6g}  q3 {q3:.6g}  iqr/median {rel:.3f}{flag}")


if __name__ == "__main__":
    main()
